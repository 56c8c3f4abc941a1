package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ExactRatio.exactRatio

/** Iterative graph analytics over relational edge lists.
  *
  * Beyond-reference surface: the reference's only graph-shaped artifact is
  * the cell-adjacency implicit in its grid (never queried as a graph);
  * training-data pipelines, by contrast, routinely rank entities in an
  * interaction graph (documents↔sources, users↔items) to weight sampling.
  * Companion to [[Dedup.connectedComponents]], which owns the label-
  * propagation side of the graph family.
  */
object Graph {

  /** Fixed-point integer scale: ranks are BIGINTs in units of 1e-12.
    * Integer arithmetic makes every step associative and
    * order-independent, so a distributed sum over any partitioning —
    * and any other engine's sum over the same integers — produces the
    * IDENTICAL bit pattern. Floating-point PageRank cannot make that
    * cross-engine promise (sum order differs), which is why the oracle
    * certification of [[pageRankOf]] is exact, not tolerance-based.
    */
  val RankScale: Long = 1000000000000L

  // ---- build-once interaction-graph artifact ------------------------------

  /** The symmetric supplier↔part interaction graph as a BUILD-ONCE
    * MATERIALIZED ARTIFACT. Before r10 every operator in the bipartite
    * family (pageRank, PPR, BFS, LPA, modularity, assortativity, harmonic,
    * k-core) independently re-derived, re-shuffled and re-checkpointed the
    * IDENTICAL edge list from `lineitem` — ~1–2 s of duplicated prefix per
    * query, ~14% of suite wall at sf0.1. This is
    * [[Recommend.recommendationsFor]]'s memo discipline applied one level
    * down: the graph (not any one query's output) is the shared artifact,
    * exactly as a production graph store materializes its adjacency once
    * and serves every algorithm from it.
    *
    * Every member is LAZY, so a consumer pays only for the pieces it
    * reads (BFS never builds `withDeg`; assortativity never runs LPA),
    * and each piece is localCheckpointed on first use so all later
    * consumers fan out from materialized bytes. Row-identical to the
    * operators' pre-r10 inline derivations (GraphSpec pins this).
    *
    * `own` receives each checkpoint: [[interactionGraphFor]] passes the
    * [[Memo]] entry's, so invalidation releases them; a graph built
    * outside the store keeps them until the session ends.
    */
  final class InteractionGraph private[graft] (
      lineitem: DataFrame, own: DataFrame => DataFrame = identity) {
    private def ck(df: DataFrame): DataFrame = own(df.localCheckpoint())

    /** Deduplicated symmetric edge list `(u, v)` — suppliers at
      * `2·l_suppkey`, parts at `2·l_partkey+1` (disjoint id spaces), both
      * orientations materialized — hash-partitioned on `u` ONCE and
      * checkpointed: every consumer (and every iteration of every
      * consumer) re-reads these partitions instead of re-shuffling the
      * data-sized side.
      *
      * Deliberately REPARTITION_BY_COL (AQE-coalescible), NOT
      * [[Spread.byKey]]: graph iterations are bytes-proportional joins
      * and aggregates, so AQE's byte-based partition sizing is the right
      * width for them — pinning the full shuffle width here measured
      * +8–16% across the iterative family at sf0.1 (r13, per-iteration
      * task overhead on a small artifact) while Spread's CPU-fan-out
      * rationale does not apply.
      */
    lazy val edges: DataFrame = {
      val once = lineitem.select(
        (col("l_suppkey") * 2).as("u"), (col("l_partkey") * 2 + 1).as("v"))
        .distinct()
      ck(once
        .unionByName(once.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u")))
    }

    /** Min-quantity weighted symmetric edges `(u, v, w)` — the weighted
      * face of [[edges]] (w = min `l_quantity` per (supplier, part) pair,
      * exact BIGINT), both orientations, hash-partitioned on `u` and
      * checkpointed. [[Graph.weightedShortestPathsOf]] consumes it. The
      * weight is a per-pair aggregate of the ORIGINAL lineitem rows, so
      * this member re-reads `lineitem` once — it cannot be projected from
      * the deduplicated [[edges]].
      */
    lazy val weightedEdges: DataFrame = {
      val once = lineitem
        .groupBy((col("l_suppkey") * 2).as("u"),
          (col("l_partkey") * 2 + 1).as("v"))
        .agg(min(col("l_quantity")).cast("long").as("w"))
      ck(once
        .unionByName(once.select(col("v").as("u"), col("u").as("v"), col("w")))
        .repartition(col("u")))
    }

    /** O(nodes) degree table `(u, deg)`, checkpointed — the artifact's
      * vertex set (one row per node) as well as its degree lookup.
      */
    lazy val deg: DataFrame =
      ck(edges.groupBy("u").agg(count(lit(1)).as("deg")))

    /** Node count — one O(nodes) count over the checkpointed degrees. */
    lazy val nNodes: Long = deg.count()

    /** Degree-annotated edges `(u, v, deg)`, checkpointed — the
      * PageRank-family iteration input (contribution = rank div deg).
      */
    lazy val withDeg: DataFrame = ck(edges.join(deg, "u"))

    /** Per-node LPA community labels after `rounds` synchronous rounds,
      * checkpointed and memoized per `rounds`: [[labelPropagationOf]]
      * (the census) and [[communityModularityOf]] (the quality score)
      * consume the SAME assignment, so the iterative label joins run
      * once per rounds value, not once per query.
      */
    def lpaLabels(rounds: Int): DataFrame = synchronized {
      lpaMemo.getOrElseUpdate(rounds, ck(Graph.lpaLabelsOf(this, rounds)))
    }
    private val lpaMemo = scala.collection.mutable.Map.empty[Int, DataFrame]
  }

  /** The interaction-graph artifact for `inputKey` (the caller's table
    * directory), built at most once per session: a [[Memo]] entry of the
    * `graph` family, under its staleness contract.
    */
  def interactionGraphFor(
      inputKey: String, lineitem: => DataFrame): InteractionGraph = {
    val li = lineitem
    Memo(li.sparkSession, "graph", inputKey)(new InteractionGraph(li, _))
  }

  /** Drops every memoized interaction graph and co-purchase edge list
    * and releases their checkpoint storage (the `graph` family of
    * [[Memo]]).
    */
  def invalidateInteractionGraphs(): Unit = Memo.invalidate("graph")

  /** [[coPurchaseEdges]] as a build-once artifact, memoized per
    * (session, inputKey, maxBasketSize, minSupport) — the strong-tie
    * census family (triangles, local clustering, link prediction) shares
    * one (1000, 2) edge build instead of re-running the basket self-join
    * per query. A [[Memo]] entry of the `graph` family, so
    * [[invalidateInteractionGraphs]] drops it too.
    */
  def coPurchaseEdgesFor(
      inputKey: String, lineitem: => DataFrame,
      maxBasketSize: Int = 1000, minSupport: Int = 1): DataFrame = {
    val li = lineitem
    Memo(li.sparkSession, "graph", (inputKey, maxBasketSize, minSupport))(
      own => own(coPurchaseEdges(li, maxBasketSize, minSupport)))
  }

  /** PageRank over the bipartite supplier↔part interaction graph `g`
    * (typically the memoized [[interactionGraphFor]] artifact), run for
    * `iters` synchronous iterations at damping 0.85, in 1e-12 fixed point.
    * Returns the `topK` nodes by rank: `(node, rank)` where suppliers map
    * to `2·l_suppkey` and parts to `2·l_partkey + 1` (disjoint id spaces).
    *
    * Undirected edges (both directions materialized) mean every node has
    * in-degree ≥ 1, so no dangling-mass correction is needed: each
    * iteration is exactly `r' = base + 0.85·Σ r(u)/deg(u)` with the
    * division truncating in fixed point — both engines truncate
    * identically on nonnegative integers.
    *
    * Scale: the edge list is deduplicated, hash-partitioned on the source
    * ONCE and locally checkpointed — each of the `iters` joins re-reads
    * the materialized partitions instead of re-shuffling the (static,
    * data-sized) side; only the (node, rank) table — one row per node —
    * moves per iteration. The per-iteration `groupBy(dst)` is the
    * irreducible PageRank shuffle; partial aggregation collapses it to
    * O(distinct dst per partition) before the exchange. Driver state is
    * one `count()` (node count) — no collect of data-sized state.
    */
  def pageRankOf(
      g: InteractionGraph, iters: Int = 3, topK: Int = 20): DataFrame = {
    val withDeg = g.withDeg
    val n = g.nNodes
    val base = RankScale * 15L / 100L / n
    var ranks = g.deg.select(col("u").as("node"), lit(RankScale / n).as("rank"))
    for (_ <- 1 to iters) {
      ranks = withDeg
        .join(ranks, withDeg("u") === ranks("node"))
        .select(col("v").as("node"), expr("rank div deg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("contrib"))
        .select(col("node"),
          (lit(base) + expr("(contrib * 85) div 100")).as("rank"))
    }
    // rank_fp: "fp" for fixed-point, and a name neither engine can
    // confuse with the rank() window keyword
    ranks.orderBy(col("rank").desc, col("node").asc).limit(topK)
      .withColumnRenamed("rank", "rank_fp")
  }

  /** Personalized (topic-sensitive) PageRank: identical fixed-point
    * integer arithmetic to [[pageRankOf]], but the restart mass goes ONLY
    * to a seed set instead of uniformly — ranks then measure proximity
    * to the topic, the random-walk-with-restart scoring behind
    * related-item retrieval and seed-expansion labeling. Seeds here are
    * every `seedEvery`-th part node (deterministic, so the DuckDB
    * unrolled-CTE oracle reproduces the walk bit-for-bit).
    *
    * Same scale shape as [[pageRankOf]] (checkpointed edge partitions,
    * one rank-table shuffle per iteration) with one difference: the
    * rank table stays SPARSE — only nodes reached by the walk carry
    * rows, so early iterations move |frontier| rows, not |V|. The
    * restart term attaches by a full-outer join against the (small)
    * seed table so an unreached seed still holds its restart mass.
    */
  def personalizedPageRankOf(
      g: InteractionGraph, seedEvery: Int = 50,
      iters: Int = 3, topK: Int = 20): DataFrame = {
    val withDeg = g.withDeg
    val seeds = g.deg.select(col("u").as("node"))
      .filter(col("node") % 2 === 1 &&
        ((col("node") - 1) / 2) % seedEvery === 0)
      .localCheckpoint() // tiny; joined every iteration
    val s = seeds.count()
    require(s > 0, s"personalizedPageRank: empty seed set (seedEvery=$seedEvery)")
    val base = RankScale * 15L / 100L / s
    var ranks = seeds.select(col("node"), lit(RankScale / s).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, withDeg("u") === ranks("node"))
        .select(col("v").as("node"), expr("rank div deg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("contrib"))
      ranks = contrib
        .join(seeds.withColumn("__s", lit(1L)), Seq("node"), "full_outer")
        .select(col("node"),
          (when(col("__s").isNotNull, lit(base)).otherwise(lit(0L)) +
            expr("(coalesce(contrib, 0L) * 85) div 100")).as("rank"))
    }
    ranks.orderBy(col("rank").desc, col("node").asc).limit(topK)
      .withColumnRenamed("rank", "rank_fp")
  }

  /** Multi-source BFS over the supplier↔part interaction graph: exact
    * minimum hop distance from the seed set (supplier nodes whose key is
    * a multiple of `seedEvery`), level-synchronous, capped at `maxDepth`.
    * Returns the reachability histogram `(dist, n_nodes)` — the
    * neighborhood-growth profile used to audit graph connectivity before
    * sampling walks from it.
    *
    * Scale shape: the edge list is deduplicated, hash-partitioned once
    * and localCheckpointed ([[pageRankOf]]'s discipline); each of the
    * `maxDepth` rounds joins the CURRENT frontier (nodes first reached
    * last round — never the full distance table) against those
    * materialized partitions, then min-merges into the distance table.
    * Per-round shuffle traffic is O(frontier expansion) + O(|reached|),
    * never O(paths): the min-merge collapses path multiplicity before it
    * can compound, which is what makes hop-3 feasible where a path-
    * enumerating rendering (the naive recursive join) explodes
    * combinatorially.
    */
  def bfsDistancesOf(
      g: InteractionGraph, seedEvery: Int = 10, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 6,
      s"bfsDistances: maxDepth $maxDepth outside 1..6 (each level is a " +
        "full frontier expansion; deeper sweeps want a connected-components " +
        "formulation instead)")
    val edges = g.edges
    // seed = supplier node (even id) with suppkey % seedEvery == 0, i.e.
    // node % (2·seedEvery) == 0 — divisionless, so the oracle's integer
    // arithmetic is trivially identical. The artifact's degree table IS
    // the distinct vertex set (one row per u).
    val seeds = g.deg.select(col("u").as("node"))
      .filter(col("node") % (2L * seedEvery) === 0)
    var dist = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint()
    for (level <- 1 to maxDepth) {
      val frontier = dist.filter(col("dist") === (level - 1))
      val reached = edges.join(frontier, edges("u") === frontier("node"))
        .select(col("v").as("node"), lit(level.toLong).as("dist"))
      dist = dist.unionByName(reached)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint() // bound lineage: each round reads bytes
    }
    dist.groupBy("dist").agg(count(lit(1)).as("n_nodes")).orderBy("dist")
  }

  /** The deduplicated co-purchase edge list (parts adjacent iff at least
    * `minSupport` baskets hold both) with the mega-basket guard — the
    * input of [[triangleStatsOf]], [[localClusteringOf]],
    * [[degreeStatsOf]] and [[linkPredictionOf]], memoized by
    * [[coPurchaseEdgesFor]]. localCheckpointed: every consumer fans out
    * from the materialized partitions.
    */
  private[graft] def coPurchaseEdges(
      lineitem: DataFrame, maxBasketSize: Int,
      minSupport: Int = 1): DataFrame = {
    val items = lineitem
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    // Window count + merge self-join, NOT a collect_list + array-HOF pair
    // expansion: HOFs evaluate interpreted (outside whole-stage codegen),
    // and measured at sf0.1 the HOF rendering was 1.4x SLOWER than this
    // fully-codegen'd join even though both ride one basket exchange.
    val sized = items
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("basket")))
      .filter(col("bsz") <= maxBasketSize)
      .drop("bsz")
    val pairs = sized.hint("merge").as("a")
      .join(sized.hint("merge").as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .select(col("a.item").as("u"), col("b.item").as("v"))
    val deduped =
      if (minSupport <= 1) pairs.distinct()
      else pairs.groupBy("u", "v").agg(count(lit(1)).as("__sup"))
        .filter(col("__sup") >= minSupport).drop("__sup")
    deduped.localCheckpoint()
  }

  /** Triangle census of the co-purchase graph `edges` (a
    * [[coPurchaseEdges]] list, typically the memoized
    * [[coPurchaseEdgesFor]] build: parts are adjacent iff some basket
    * contains both): one row of
    * `(n_nodes, n_edges, n_triangles, clustering)` where clustering is
    * the global coefficient 3·triangles / wedges.
    *
    * Plan shape — degree orientation, the standard O(m^1.5) rendering
    * (Schank & Wagner; the same algorithm under every "triangles" SQL
    * in distributed engines): orient each undirected edge from its
    * lower-(degree, id) endpoint to the higher, then enumerate wedges
    * only from each node's OUT-neighbors and probe whether the closing
    * edge exists. Orientation makes both bounds structural:
    *  - every triangle becomes exactly ONE wedge + probe (its
    *    lowest-ranked vertex is the only one with two out-edges into it),
    *    so the count needs no /3 and no dedup;
    *  - out-degree is bounded by the number of HIGHER-ranked neighbors,
    *    ≤ O(√m) for any graph, so wedge fan-out is Σ C(outdeg, 2) =
    *    O(m^1.5) even when raw degrees are power-law — the hub that
    *    would make naive wedge counting quadratic has out-degree ~0
    *    because almost all its neighbors rank below it.
    *
    * The rank key packs (degree, id) into one long (ids are < 2^32 by
    * the fixture's key contract), so orientation and the wedge ordering
    * are a single long comparison. The closing-edge probe is an equi
    * semi-join on (src, dst) — orientation guarantees the closing edge
    * of an ordered wedge is stored in exactly that direction. The edge
    * list is localCheckpointed once and feeds degree, orientation, and
    * probe; the mega-basket guard is the same `maxBasketSize` cap as
    * [[Association.basketPairs]]. Final stats are 1-row aggregates
    * (cross joins of 1-row frames, PlanSweep-reviewed).
    *
    * The edge list's `minSupport` restricts the census to edges
    * co-purchased in at least that many baskets. The default 1 is the exact full census; 2+ is the
    * "strong tie" census — the noise-pruned variant a recommender or
    * fraud-ring analysis actually wants (a single shared basket between
    * two random popular parts is coincidence, not structure). The prune
    * happens at the FIRST aggregate, so everything downstream (degrees,
    * orientation, wedges) shrinks with it: at sf0.1 support>=2 keeps
    * 3.6 k of 1.2 M edges and the wedge volume drops 5 orders of
    * magnitude, which is what makes it the bench-scale rendering while
    * the exact census stays the spec-tested reference.
    */
  def triangleStatsOf(edges: DataFrame): DataFrame = {
    // node count + wedge denominator (orientedTriangles re-derives its
    // own degree table from the same checkpointed edge partitions)
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val triangles = orientedTriangles(edges)
      .agg(count(lit(1)).as("n_triangles"))
    // `div`, not `/`: Spark's `/` on longs is double division, and a
    // double SUM is order-dependent — integer wedge counts stay exact
    val nodesEdges = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).cast("long").as("wedges"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
    nodesEdges.crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        // 3t/w is an int/int rational — exact fixed point, not
        // round(double, 6) (engine-dependent at exact 6-dp ties)
        exactRatio(lit(3L) * col("n_triangles"), col("wedges"), 6)
          .as("clustering"))
  }

  /** Every triangle of the undirected `edges` graph exactly once, as
    * (a, b, c): a is the lowest-(degree, id)-ranked vertex, b and c its
    * rank-ordered out-neighbors. [[triangleStatsOf]]'s degree-oriented
    * wedge enumeration (see that scaladoc for the O(m^1.5) rationale),
    * factored so the global census and the per-node census
    * ([[localClusteringOf]]) ride one implementation. The closing-edge
    * probe is an INNER join against the unique closing-edge keys —
    * set-equivalent to the previous semi-join (the edge list is
    * distinct), but it lets the wedge apex ride along instead of being
    * discarded.
    */
  private[graft] def orientedTriangles(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val rk = deg.select(col("n"),
      (col("deg") * lit(4294967296L) + col("n")).as("rk"))
    val oriented = edges
      .join(rk.select(col("n").as("u"), col("rk").as("rku")), "u")
      .join(rk.select(col("n").as("v"), col("rk").as("rkv")), "v")
      .select(
        when(col("rku") < col("rkv"), col("u")).otherwise(col("v")).as("src"),
        when(col("rku") < col("rkv"), col("v")).otherwise(col("u")).as("dst"),
        greatest(col("rku"), col("rkv")).as("dstRk"))
      .localCheckpoint() // self-joined below: materialize once
    // Closing-edge probe: the wedge set is ~30x the edge list (sf0.1:
    // 41M wedges over 1.2M edges), so shuffling it raw into the probe
    // IS the query's cost. Pack (src,dst) into one long (ids < 2^32 by the
    // same contract the rank key uses) and reject non-closing wedges with
    // a Bloom sketch of the edge keys BEFORE the exchange — the verify
    // join then shuffles only triangles + the fp fraction (sf0.1:
    // 1.9M + ~0.4M instead of 41M). The sketch is bounded (~1.4 MB for
    // 1.2M edges), never size-of-wedges; exactness is preserved by
    // the exact verify join below.
    val packed = lit(4294967296L)
    val closing = oriented.select(
      (col("src") * packed + col("dst")).as("ek"))
    // Wedge generation as ONE exchange (groupBy src), not a self-join:
    // collect each node's out-neighbors sorted by rank and expand the
    // ordered pairs with array HOFs in-stage. The array is bounded by
    // out-degree, which orientation caps at O(sqrt m) structurally — the
    // state per group is the same bound the self-join's merge buffer had.
    // The Bloom probe runs INSIDE the array filter, so explode emits only
    // surviving candidates (sf0.1: 2.3M rows through Generate, not 41M);
    // an empty sketch (no edges) degrades to the unfiltered pairs, which
    // are then empty too.
    val sketch = graft.operators.RuntimeFilter.keyBloom(closing, "ek", fpp = 0.01)
    val ns = col("ns")
    val pairs = flatten(transform(ns, (x, i) =>
      transform(
        slice(ns, i + lit(2), size(ns) - i - lit(1)),
        y => x.getField("dst") * packed + y.getField("dst"))))
    val candidates = sketch.fold(pairs)(b =>
      org.apache.spark.sql.functions.filter(pairs,
        e => graft.operators.RuntimeFilter.mightContain(b, e)))
    val wedges = oriented
      .groupBy("src")
      .agg(sort_array(collect_list(struct(col("dstRk"), col("dst")))).as("ns"))
      .select(col("src").as("a"), explode(candidates).as("ek"))
    wedges // exact verify: Bloom false positives die on the inner join
      .join(closing, "ek")
      .select(col("a"), expr("ek div 4294967296").as("b"),
        pmod(col("ek"), packed).as("c"))
  }

  /** Per-node local clustering coefficient of the strong-tie co-purchase
    * graph: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close each
    * node's neighborhood is to a clique, THE per-node community-structure
    * signal (Watts–Strogatz), where [[triangleStatsOf]] reports only the
    * global mean. Top `topK` by coefficient (node-id tiebreak), over
    * nodes with deg ≥ 2 (cc undefined below).
    *
    * Exactness: triangle and degree counts are integers; the coefficient
    * presents through the exact fixed-point ratio (never round(double)).
    * Scale: identical bounds to [[triangleStatsOf]] — O(m^1.5) wedge work
    * under degree orientation, Bloom-prefiltered probe — plus one
    * O(triangles) vertex-unpivot aggregate; the `minSupport` strong-tie
    * prune collapses wedge volume before any of it.
    *
    * `edges` is a [[coPurchaseEdges]] list, typically the memoized
    * [[coPurchaseEdgesFor]] build at `minSupport` 2.
    */
  def localClusteringOf(edges: DataFrame, topK: Int = 20): DataFrame = {
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = orientedTriangles(edges)
    val perNode = tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2L)
      .join(perNode, Seq("node"), "left")
      .na.fill(0L, Seq("n_tri"))
      .select(col("node"), col("deg"), col("n_tri"),
        exactRatio(lit(2L) * col("n_tri"),
          col("deg") * (col("deg") - 1L), 6).as("cc"))
      .orderBy(col("cc").desc, col("node").asc)
      .limit(topK)
  }

  /** Degree histogram of the co-purchase graph with the Hill tail-index
    * estimate attached: one row per distinct degree `(deg, n_nodes)` plus
    * `alpha_hill` = 1 + n_tail / Σ ln(d/dmin) over nodes with
    * d ≥ `dMin` — the standard check of whether the interaction graph is
    * power-law (α ≈ 2–3) before trusting any sampling scheme calibrated
    * on it (a heavy tail means hub-driven skew in every downstream join).
    *
    * Degrees re-aggregate from the edge list (two exchanges over edges);
    * the histogram and the Hill sum are both O(distinct degrees); alpha
    * attaches as a 1-row broadcast.
    *
    * `edges` is a [[coPurchaseEdges]] list, typically the memoized
    * [[coPurchaseEdgesFor]] build.
    */
  def degreeStatsOf(edges: DataFrame, dMin: Int = 10): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val hist = deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
    // when() guard: a tail sitting entirely AT dMin has zero log-sum —
    // alpha is undefined (NULL), not an ANSI DIVIDE_BY_ZERO
    val alpha = hist.filter(col("deg") >= dMin)
      .agg(sum(col("n_nodes")).as("nt"),
        sum(col("n_nodes") * log(col("deg") / lit(dMin.toDouble))).as("ls"))
      .select(round(lit(1.0) + col("nt") / when(col("ls") =!= 0, col("ls")), 6)
        .as("alpha_hill"))
    hist.crossJoin(broadcast(alpha))
      .select(col("deg"), col("n_nodes"), col("alpha_hill"))
  }

  /** Synchronous label propagation (community detection) with a FULLY
    * PINNED update rule: each round, every node adopts the most frequent
    * label among its neighbors, ties broken by the SMALLEST label —
    * classic async LPA is run-order-dependent (useless under an oracle,
    * and frankly under production reruns too); this synchronous
    * deterministic variant gives the same communities on any engine,
    * any partitioning, every run. Complements
    * [[Dedup.connectedComponents]]: components find reachability,
    * LPA finds DENSE regions inside a component.
    *
    * Output: the community-size census after `rounds` rounds —
    * `(community_size, n_communities)` — a bounded, order-free summary.
    *
    * Scale: per round one keyed edge⋈label join (the pageRank shuffle
    * shape over checkpointed edges), one (node, label) count aggregate,
    * and one per-node argmax window whose partitions are a node's
    * distinct neighbor-label count (bounded by degree, never global).
    * Only the O(nodes) label table moves between rounds.
    *
    * The label assignment itself comes from the artifact's per-rounds
    * memo, shared with [[communityModularityOf]].
    */
  def labelPropagationOf(
      g: InteractionGraph, rounds: Int = 2, maxRounds: Int = 8): DataFrame = {
    require(rounds >= 1 && rounds <= maxRounds,
      s"lpaLabels: rounds=$rounds outside 1..$maxRounds")
    g.lpaLabels(rounds)
      .groupBy("label").agg(count(lit(1)).as("community_size"))
      .groupBy("community_size").agg(count(lit(1)).as("n_communities"))
      .orderBy("community_size")
  }

  /** The raw LPA label loop over an artifact's edges — called by
    * [[InteractionGraph.lpaLabels]], which checkpoints and memoizes the
    * result per rounds value.
    */
  private[graft] def lpaLabelsOf(
      g: InteractionGraph, rounds: Int, maxRounds: Int = 8): DataFrame = {
    require(rounds >= 1 && rounds <= maxRounds,
      s"lpaLabels: rounds=$rounds outside 1..$maxRounds")
    import org.apache.spark.sql.expressions.Window
    val edges = g.edges
    var labels = g.deg.select(col("u").as("node"))
      .withColumn("label", col("node"))
    for (_ <- 1 to rounds) {
      val counts = edges
        .join(labels, edges("v") === labels("node"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("u")
        .orderBy(col("cnt").desc, col("label").asc)
      labels = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("u").as("node"), col("label"))
    }
    labels
  }

  /** Newman modularity of the LPA community assignment — did label
    * propagation find real structure? Q = Σ_c [e_c/M − (d_c/M)²] over
    * the DIRECTED edge count M = 2m (both orientations), e_c = directed
    * edges inside community c, d_c = total degree of c's nodes.
    *
    * Exactness: Q presents as the single double division q_num / M² of
    * two exact BIGINTs (q_num = M·Σe_c − Σd_c², possibly negative) —
    * identical IEEE division on both engines, and unlike a fixed-point
    * `div` rendering it needs no truncation convention for negatives
    * (Spark `div` truncates toward zero, DuckDB `//` floors — a
    * sign-dependent 1-unit divergence this formulation never touches).
    * Bound: |q_num| ≤ M², so BIGINT holds through M ≈ 3×10⁹ directed
    * edges; beyond that the sums need DECIMAL(38,0) — documented, not
    * silent.
    *
    * Plan: two label attachments onto the edge list (the degree table
    * rides the same label join), one O(communities) aggregate each,
    * then 1-row composition (reviewed broadcasts).
    *
    * Edges, degrees AND the LPA assignment all come from the artifact, so
    * scoring the communities [[labelPropagationOf]] found re-runs zero
    * label rounds.
    */
  def communityModularityOf(
      g: InteractionGraph, rounds: Int = 2): DataFrame = {
    val labels = g.lpaLabels(rounds)
    val edges = g.edges
    val lu = labels.select(col("node").as("u"), col("label").as("lu"))
    val lv = labels.select(col("node").as("v"), col("label").as("lv"))
    val eIn = edges.join(lu, "u").join(lv, "v")
      .filter(col("lu") === col("lv"))
      .agg(count(lit(1)).as("e_in"))
    val m2 = edges.agg(count(lit(1)).as("m_directed"))
    val deg = g.deg.select(col("u"), col("deg").as("d"))
    val dsq = deg.join(lu, "u")
      .groupBy("lu").agg(sum("d").as("d_c"))
      .agg(sum(col("d_c") * col("d_c")).as("sum_dsq"),
        count(lit(1)).as("n_communities"))
    dsq.crossJoin(broadcast(m2)).crossJoin(broadcast(eIn))
      .select(col("n_communities"), col("m_directed"), col("e_in"),
        (col("m_directed") * col("e_in") - col("sum_dsq")).as("q_num"),
        ((col("m_directed") * col("e_in") - col("sum_dsq")).cast("double") /
          (col("m_directed") * col("m_directed")).cast("double")).as("q"))
  }

  /** Weighted multi-source shortest paths — `rounds` synchronous
    * Bellman-Ford relaxations (min-plus over exact BIGINT weights, so
    * every step is associative, order-free, and engine-identical; the
    * weighted twin of [[bfsDistancesOf]], whose hop metric can't prefer a
    * longer-but-lighter path). Edge weight = per-pair min quantity —
    * deterministic and integral. Distances are exact up to `rounds`
    * hops (the standard bounded-relaxation contract; paths longer than
    * `rounds` edges may still improve — callers size rounds to the
    * graph's weighted diameter of interest).
    *
    * Output: the `topK` nearest reached nodes `(node, dist)`, ties on
    * the node id.
    *
    * Scale: per round one keyed edge⋈distance join over checkpointed
    * edge partitions + one min-combine aggregate whose shuffle carries
    * O(reached nodes) — never O(paths); the pageRank/BFS family shape.
    *
    * The weighted edge list is the artifact's
    * [[InteractionGraph.weightedEdges]] member, so the memo-sharing query
    * (`graph_sssp`) sheds its per-query edge derivation exactly as
    * `graph_hits` did in r10 — the last graph operator not riding the
    * shared build.
    */
  def weightedShortestPathsOf(
      g: InteractionGraph, rounds: Int = 3, topK: Int = 20,
      maxRounds: Int = 8): DataFrame = {
    require(rounds >= 1 && rounds <= maxRounds,
      s"weightedShortestPaths: rounds=$rounds outside 1..$maxRounds")
    val edges = g.weightedEdges
    var dist = edges.select("u").distinct().filter(col("u") % 20 === 0)
      .select(col("u").as("node"), lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      val relaxed = edges.join(dist, edges("u") === dist("node"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dist.orderBy(col("dist").asc, col("node").asc).limit(topK)
  }

  /** HITS (Kleinberg hubs & authorities) over the directed supplier→part
    * edge list: auth(p) = Σ hub(s) over in-edges, hub(s) = Σ auth(p) over
    * out-edges, L1-normalized each half-step — in 1e-6 INTEGER fixed
    * point, the same cross-engine-exact discipline as [[pageRankOf]]
    * (truncating integer division is identical everywhere; a float HITS
    * could only be tolerance-checked). The sf10 (100×) rung killed the
    * original 1e-6 rendering twice, so the numeric budget is now
    * explicit:
    *  - UNDERFLOW: the fixed-point scale must exceed the node count —
    *    at 2.1M parts every authority share fell below 1e-6, truncated
    *    to 0, and the next half-step divided by zero. Scale is 1e-12
    *    (the [[pageRankOf]] convention): safe to a trillion nodes.
    *  - OVERFLOW: the normalization product raw·10¹² runs in
    *    DECIMAL(38,0) (DuckDB: HUGEINT); seeds are UNSCALED (hub₀ = 1 —
    *    the first normalization rescales anyway), so the BIGINT totals
    *    are bounded by max-in-degree × 10¹² and stay inside BIGINT
    *    until a ~9M-in-degree node holds the entire mass.
    *
    * Output: top `topK` authorities and top `topK` hubs
    * (`kind, node, score_fp`), every ordering carrying the node tiebreak.
    *
    * Scale: per half-step one keyed equi-join (edges × O(nodes) score
    * table) + one partial-aggregated groupBy; the L1 total is a 1-row
    * broadcast. The static edge list is deduplicated and checkpointed
    * once; only score tables move between iterations.
    *
    * The directed supplier→part edge list is a PROJECTION of the
    * artifact's symmetric edges (keep the even-u orientation, shift the
    * ids back), so the memo-sharing query never re-scans or
    * re-deduplicates lineitem.
    */
  def hitsOf(
      g: InteractionGraph, iters: Int = 2, topK: Int = 10): DataFrame = {
    require(iters >= 1 && iters <= 8, s"hits: iters=$iters outside 1..8")
    val edges = g.edges.filter(col("u") % 2 === 0)
      .select(expr("u div 2").as("s"), expr("(v - 1) div 2").as("p"))
      .localCheckpoint()
    // hits-LOCAL pinned exchanges (Spread, r14): each half-step's
    // join+aggregate ran as ONE AQE-coalesced task carrying ~0.4-0.5 s of
    // decimal-fixed-point CPU at sf0.1 (StageProf: 4 such stages on a
    // 13 KB shuffle). Pinning the two edge orientations at session width
    // parallelizes all four half-steps; ReuseExchange still computes each
    // orientation once. (The r13 blanket pin on the SHARED artifact edges
    // regressed light graph queries and stays reverted — this pin lives
    // inside hitsOf only.)
    val eByS = Spread.byKey(edges, col("s"))
    val eByP = Spread.byKey(edges, col("p"))
    var hubs = edges.select("s").distinct()
      .withColumn("hub", lit(1L))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      val ar = eByS.join(hubs, "s").groupBy("p").agg(sum("hub").as("raw"))
      val at = ar.agg(sum("raw").as("tot"))
      auths = ar.crossJoin(broadcast(at))
        .select(col("p"), expr(
          "(CAST(raw AS DECIMAL(38,0)) * 1000000000000) div tot").as("auth"))
      val hr = eByP.join(auths, "p").groupBy("s").agg(sum("auth").as("raw"))
      val ht = hr.agg(sum("raw").as("tot"))
      hubs = hr.crossJoin(broadcast(ht))
        .select(col("s"), expr(
          "(CAST(raw AS DECIMAL(38,0)) * 1000000000000) div tot").as("hub"))
    }
    val topA = auths.orderBy(col("auth").desc, col("p").asc).limit(topK)
      .select(lit("auth").as("kind"), col("p").as("node"),
        col("auth").as("score_fp"))
    val topH = hubs.orderBy(col("hub").desc, col("s").asc).limit(topK)
      .select(lit("hub").as("kind"), col("s").as("node"),
        col("hub").as("score_fp"))
    topA.unionByName(topH)
      .orderBy(col("kind"), col("score_fp").desc, col("node"))
  }

  /** Degree assortativity of the supplier↔part interaction graph: the
    * Pearson correlation of endpoint degrees over all directed edges
    * (both orientations — the standard symmetric rendering, Newman 2002).
    * Positive: hubs attach to hubs; negative: hubs fan out to leaves —
    * the one-number structure diagnostic read before choosing a
    * partitioning or sampling strategy (disassortative graphs are the
    * ones whose hub edges skew a hash-partitioned shuffle).
    *
    * Exactness: the six sufficient statistics are exact integer sums; r
    * combines them in double as the same expression on the same integers
    * in both engines, and the sqrt makes r irrational — never a
    * rounding-tie hazard. Zero variance (regular graph) yields NULL, not
    * NaN.
    *
    * Numeric budget (the r11 sf10 HITS overflow class, audited r12):
    * the product sums Σdx·dy, Σdx², Σdy² are bounded by E·D² (E directed
    * edges, D max degree) — BIGINT dies at E·D² > 9.2×10¹⁸, i.e. a
    * 10⁹-edge graph with one 10⁵-degree hub. The three product sums
    * therefore accumulate in DECIMAL(38,0) (exact to 10³⁸; DuckDB's
    * BIGINT sum auto-promotes to HUGEINT, so the oracle was already
    * wide); the linear sums Σdx, Σdy stay BIGINT (budget E·D ≤ 9.2e18 —
    * beyond any material graph).
    *
    * Plan: one degree aggregate + two broadcast-sized degree joins over
    * the once-materialized edge list + one scalar aggregate.
    */
  def assortativityOf(g: InteractionGraph): DataFrame = {
    val edges = g.edges
    val deg = g.deg.select(col("u"), col("deg").as("d"))
    val xy = edges
      .join(deg.select(col("u"), col("d").as("dx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dy")), Seq("v"))
    val s = xy.agg(count(lit(1)).as("n"),
      sum("dx").as("sx"), sum("dy").as("sy"),
      sum(col("dx").cast("decimal(19,0)") * col("dy")).as("sxy"),
      sum(col("dx").cast("decimal(19,0)") * col("dx")).as("sxx"),
      sum(col("dy").cast("decimal(19,0)") * col("dy")).as("syy"))
    val n = col("n").cast("double")
    val vx = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = n * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    s.select(expr("n div 2").as("n_edges"),
      round(when(vx > 0.0 && vy > 0.0,
        (n * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(vx) * sqrt(vy))), 6).as("assortativity"))
  }

  /** Link prediction by common-neighbor Jaccard over the strong-tie
    * co-purchase graph: the `topK` NON-adjacent part pairs ranked by
    * |N(u)∩N(v)| / |N(u)∪N(v)| among pairs sharing at least `minCommon`
    * neighbors — "these two parts are bought with the same things but
    * never together", the complement of [[triangleStatsOf]] (which counts
    * the wedges that DID close; this ranks the ones that didn't). The
    * standard recommender/negative-mining primitive.
    *
    * Exactness: common counts and degrees are integers; Jaccard presents
    * via [[exactRatio]] and the ranking orders by that shared 6-dp value
    * with (u, v) tiebreaks, so the top-k cut is engine-identical.
    *
    * Scale shape: candidate pairs come from per-center neighbor-pair
    * expansion (one merge-join exchange on the center, like
    * [[graft.ops.Association.basketPairs]]) — O(Σ deg²) wedges, kept
    * tractable by the SAME two knobs the triangle census uses: the
    * strong-tie `minSupport` cut sparsifies hubs before expansion, and
    * `minCommon` prunes the candidate table before the degree joins.
    * The existing-edge exclusion is one anti-join on the deduped edge
    * list.
    *
    * `edges` is a [[coPurchaseEdges]] list, typically the memoized
    * [[coPurchaseEdgesFor]] build at `minSupport` 2.
    */
  def linkPredictionOf(
      edges: DataFrame, minCommon: Int = 1, topK: Int = 20): DataFrame = {
    require(minCommon >= 1, s"linkPrediction: minCommon=$minCommon < 1")
    val adj = edges.unionByName(
      edges.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint() // feeds degrees AND the wedge self-join
    val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
    val wedges = adj.hint("merge").as("a")
      .join(adj.hint("merge").as("b"),
        col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .select(col("a.v").as("x"), col("b.v").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    val nonEdges = wedges.join(edges,
      wedges("x") === edges("u") && wedges("y") === edges("v"), "left_anti")
    nonEdges
      .join(deg.select(col("u").as("x"), col("d").as("deg_u")), Seq("x"))
      .join(deg.select(col("u").as("y"), col("d").as("deg_v")), Seq("y"))
      .select(col("x").as("u"), col("y").as("v"), col("n_common"),
        col("deg_u"), col("deg_v"),
        exactRatio(col("n_common"),
          col("deg_u") + col("deg_v") - col("n_common"), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u").asc, col("v").asc)
      .limit(topK)
  }

  /** Harmonic centrality of a fixed panel of seed nodes over the
    * supplier–part interaction graph: C(s) = Σ_{v≠s} 1/d(s,v), summed to
    * `maxDepth` hops — the standard "how close is this node to everything"
    * score, and the standard scale trick: centrality is estimated for a
    * FIXED-SIZE seed panel (deterministically the lowest `seedCount`
    * eligible supplier nodes), so BFS state is O(nodes·seedCount)
    * regardless of data scale — never O(nodes·suppliers).
    *
    * The truncated harmonic sum is exact: with lcm(1..6) = 60,
    * C = (Σ (60/d)·n_d) / 60 — pure BIGINT, presented via [[exactRatio]].
    *
    * Plan: level-synchronous multi-source BFS keyed (seed, node) — each
    * level is one join frontier→edges plus one min-dist groupBy, edges
    * localCheckpointed once and re-read; `maxDepth` ≤ 6 keeps the
    * frontier-expansion count bounded and loud.
    */
  def harmonicCentralityOf(
      g: InteractionGraph, seedEvery: Int = 10, seedCount: Int = 8,
      maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 6,
      s"harmonicCentrality: maxDepth $maxDepth outside 1..6")
    require(seedCount >= 1 && seedCount <= 64,
      s"harmonicCentrality: seedCount $seedCount outside 1..64 (the " +
        "whole panel is one LONG bitmask per node; a full-centrality " +
        "sweep wants HyperBall)")
    val edges = g.edges
    val spark = edges.sparkSession
    // Localize the seed panel: O(seedCount <= 64) ids, the
    // kmeans-centroid class of justified collect — bit i of every mask
    // below is seed i in ascending id order.
    val seedIds = g.deg.select(col("u").as("s"))
      .filter(col("s") % (2L * seedEvery) === 0)
      .orderBy("s").limit(seedCount)
      .collect().map(_.getLong(0)).toSeq
    // BITMASK multi-source BFS (r10 — replaces the (seed, node)-keyed
    // rendering): state is ONE row per reached node carrying the 64-bit
    // panel — `mask` = seeds that have reached it, `gained` = seeds that
    // reached it THIS level (the first-reach set, i.e. exact BFS
    // distance). Per level the frontier⋈edges join moves each touched
    // edge ONCE with a bit_or-combined payload instead of once per seed
    // — 8x less join traffic at the default panel, and O(nodes) state at
    // ANY panel size <= 64. Level counts drop out as popcount-style
    // conditional sums (one 1-row aggregate per level; the only
    // driver-side data is seedCount x maxDepth longs).
    import spark.implicits._
    var state = seedIds.zipWithIndex
      .map { case (s, i) => (s, 1L << i, 1L << i) }
      .toDF("node", "mask", "gained")
      .localCheckpoint()
    val levelStates = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to maxDepth) {
      val frontier = state.filter(col("gained") =!= 0L)
        .select(col("node").as("u"), col("gained").as("fg"))
      val incoming = edges.join(frontier, "u")
        .groupBy(col("v").as("node"))
        .agg(expr("bit_or(fg)").as("inc"))
      state = state.select("node", "mask")
        .join(incoming, Seq("node"), "full_outer")
        .select(col("node"),
          expr("coalesce(mask, 0L) | coalesce(inc, 0L)").as("mask"),
          expr("coalesce(inc, 0L) & ~coalesce(mask, 0L)").as("gained"))
        .localCheckpoint() // bound lineage: each round reads bytes
      levelStates += state
    }
    // one job folds every level's gained masks to the maxDepth x
    // seedCount count table (reading checkpointed bytes) — the only
    // driver-side data in the whole operator
    val gainedAll = levelStates.zipWithIndex
      .map { case (st, d) =>
        st.select(lit(d + 1L).as("d"), col("gained")) }
      .reduce(_ unionByName _)
    val aggExprs = seedIds.indices.map(i =>
      sum(expr(s"(gained >> $i) & 1")).as(s"c$i"))
    val byLevel: Map[Long, Seq[Long]] =
      if (seedIds.isEmpty) Map.empty
      else gainedAll.groupBy("d").agg(aggExprs.head, aggExprs.tail: _*)
        .collect().map(r => r.getLong(0) ->
          seedIds.indices.map(i =>
            if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1))).toMap
    // assemble the O(seeds) report locally; seeds that reached nothing
    // drop out (the grouped rendering's absent-group semantic)
    val rows = seedIds.zipWithIndex.flatMap { case (s, i) =>
      val nds = (1 to maxDepth).map(d =>
        byLevel.get(d.toLong).map(_(i)).getOrElse(0L))
      if (nds.forall(_ == 0L)) None else Some(s +: nds)
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("seed",
        org.apache.spark.sql.types.LongType, nullable = false) +:
        (1 to maxDepth).map(d => org.apache.spark.sql.types.StructField(
          s"n_d$d", org.apache.spark.sql.types.LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
    val num = (1 to maxDepth).map(d =>
      lit((60 / d).toLong) * col(s"n_d$d")).reduce(_ + _)
    local.select(Seq(col("seed")) ++
      (1 to maxDepth).map(d => col(s"n_d$d")) :+
      exactRatio(num, lit(60L), 6).as("harmonic"): _*)
      .orderBy("seed")
  }

  /** Two-hop neighborhood feature propagation over the supplier–part
    * graph — the GraphSAGE-mean primitive that turns a tabular feature
    * into a structural one: each supplier aggregates the floor-mean of
    * its parts' integer feature, each part then aggregates the floor-mean
    * of its suppliers' hop-1 values. Mean-of-means in pure BIGINT
    * (`DIV`), so every hop is engine-exact — the integer discipline that
    * makes a propagated feature column reproducible enough to join into
    * a training set.
    *
    * Plan: exactly two equi-join + groupBy rounds over the deduplicated
    * edge list — the standard message-passing shape; state is O(nodes),
    * never O(nodes²). Parts absent from the fact are absent from the
    * output (no neighborhood, no feature).
    */
  def featurePropagation(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val e = lineitem.select(col("l_suppkey").as("s"),
      col("l_partkey").as("p")).distinct()
    // Spark's double->long cast truncates (DuckDB's rounds — the oracle
    // spells trunc() explicitly); prices are positive, so both floor
    val pf = part.select(col("p_partkey").as("p"),
      col("p_retailprice").cast("long").as("f"))
    val h1 = e.join(pf, "p").groupBy("s")
      .agg(expr("sum(f) DIV count(1)").as("h"))
    e.join(h1, "s").groupBy("p")
      .agg(expr("sum(h) DIV count(1)").as("feat_2hop"),
        count(lit(1)).as("n_supp"))
      .select(col("p").as("p_partkey"), col("feat_2hop"), col("n_supp"))
  }

  /** k-core census of the supplier↔part interaction graph: the maximal
    * subgraph in which every node keeps degree ≥ `k`, found by synchronous
    * peeling (each round simultaneously drops every node whose CURRENT
    * induced degree is below `k` — the order-free rendering, so the result
    * is a set, not a trace). One census row: total nodes, core
    * nodes/suppliers/parts, core edges, core share. The standard density
    * screen before sampling walks or training GNN-ish features — the
    * k-core is where negative sampling stays informative.
    *
    * Peeling is DELTA-based: the full degree table is built once, and each
    * round joins the static checkpointed edge list against only the
    * just-REMOVED frontier (guard-broadcast — typically tiny after round
    * one) to decrement survivor degrees. The edge list is hash-partitioned
    * once and never reshuffled; per-round traffic is O(edges touching the
    * frontier), not O(edges). Sweeps run on [[graft.operators.Fixpoint]]
    * and stop once no survivor is below `k` (the oracle's fixed unroll of
    * `rounds` sweeps is idempotent past that point); reaching `rounds`
    * with nodes still below `k` FAILS LOUDLY, so an under-provisioned cap
    * can never ship a wrong census. Σd over survivors = 2·|core edges|
    * (d is the induced degree), so the edge count needs no extra join.
    */
  def kCoreOf(
      g: InteractionGraph, k: Int = 16, rounds: Int = 6): DataFrame = {
    require(k >= 2, s"kCore: k=$k below 2 (k=1 keeps every non-isolate)")
    require(rounds >= 1 && rounds <= 12,
      s"kCore: rounds=$rounds outside 1..12 (peeling on interaction " +
        "graphs converges in a handful of sweeps; a deeper cascade wants " +
        "a degree-ordered sequential decomposition instead)")
    val edges = g.edges
    // initial degrees: a rename over the artifact's checkpointed degree
    // table — no extra materialization
    val nTotal = g.nNodes
    val deg = graft.operators.Fixpoint.iterate("kCore",
        g.deg.select(col("u").as("node"), col("deg").as("d")), rounds,
        s"nodes still below k=$k; raise `rounds` (and unroll the oracle " +
          "to match)") { (deg, _) =>
      val lost = edges
        .join(graft.operators.Broadcasting.checked(
          deg.filter(col("d") < k).select(col("node").as("v"))), Seq("v"))
        .groupBy("u").agg(count(lit(1)).as("lost"))
        .withColumnRenamed("u", "node")
      (deg.filter(col("d") >= k)
        .join(lost, Seq("node"), "left")
        .select(col("node"),
          (col("d") - coalesce(col("lost"), lit(0L))).as("d")),
        col("d") < k)
    }
    deg.agg(
      count(lit(1)).as("n_core_nodes"),
      coalesce(sum(when(col("node") % 2 === 0, 1L).otherwise(0L)), lit(0L))
        .as("n_core_suppliers"),
      coalesce(sum(when(col("node") % 2 === 1, 1L).otherwise(0L)), lit(0L))
        .as("n_core_parts"),
      coalesce(expr("sum(d) div 2"), lit(0L)).as("n_core_edges"))
      .select(lit(k.toLong).as("k"), lit(nTotal).as("n_nodes"),
        col("n_core_nodes"), col("n_core_suppliers"), col("n_core_parts"),
        col("n_core_edges"),
        exactRatio(col("n_core_nodes"), lit(nTotal), 6).as("core_share"))
  }

  /** Reciprocity of a directed graph given as an edge table `(src, dst)`:
    * the share of distinct non-loop edges whose reverse edge also exists —
    * the standard digraph symmetry diagnostic (1 on a symmetric graph,
    * ~0 on a strict hierarchy). One row:
    * `(n_edges, n_reciprocated, reciprocity)` with the share an
    * [[graft.functions.ExactRatio]].
    *
    * Plan: the input collapses to distinct (src, dst) FIRST (one
    * map-side-combined aggregate — the only data-sized stage), then a
    * self equi-join on the reversed key over the collapsed table and one
    * scalar census. At 100 TB the distinct edge set is the small
    * artifact (bounded by the key domain², e.g. nation×nation), never
    * the raw event stream.
    */
  def reciprocity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("has_rev", lit(1L))
    e.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        coalesce(sum(col("has_rev")), lit(0L)).as("n_reciprocated"))
      .select(col("n_edges"), col("n_reciprocated"),
        when(col("n_edges") > 0L,
          exactRatio(col("n_reciprocated"), col("n_edges"), 6))
          .as("reciprocity"))
  }
}
