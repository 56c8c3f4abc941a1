package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Fixpoint

/** Hierarchy analytics without recursive CTEs: Spark has no WITH
  * RECURSIVE, so the ancestor closure of a parent-pointer hierarchy is
  * built by pointer jumping (path doubling) — round k joins the closure
  * (all ancestors within 2^k steps) against the exactly-2^k jump table,
  * doubling the covered depth, so a depth-d hierarchy finishes in
  * ⌈log2 d⌉ rounds instead of the naive d chained self-joins. Each round
  * is a pair of equi-joins shuffling on node ids; intermediate tables are
  * localCheckpointed (the [[Graph]] discipline) so iterations start from
  * bytes, not re-derived lineage.
  *
  * Scale story: business hierarchies (org charts, BOMs, category trees,
  * account rollups) have depth ≤ a few dozen at ANY row count, so the
  * closure is O(n·depth) rows built in ~5 rounds; at 100 TB of fact rows
  * the closure of the (small) dimension hierarchy broadcasts, and the
  * subtree rollup is one fact-sized aggregate. Everything here is
  * integer/decimal-exact, so the DuckDB recursive-CTE oracle matches
  * bit-for-bit.
  */
object Hierarchy {

  /** All (node, anc, d) ancestor pairs of a parent-pointer table.
    * `edges` columns: `node`, `parent` — one row per non-root node
    * (roots simply absent). Cycles are the caller's contract to exclude
    * (a cycle would never terminate in ANY closure formulation; the
    * round cap `maxRounds` fails loudly instead of spinning).
    */
  def ancestorClosure(
      edges: DataFrame, maxRounds: Int = 20,
      validate: Boolean = true): DataFrame = {
    // parent-pointer contract: one parent per node. A DAG input would
    // silently multiply closure paths (and double-count every subtree
    // rollup downstream) — fail loudly instead. One O(edges) aggregate;
    // a caller that has already validated these edges (or composes
    // several closures of the same table in one query) passes
    // validate = false to skip the duplicate pass.
    if (validate) {
      val multiParent = edges.groupBy("node")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      require(multiParent.isEmpty,
        "ancestorClosure: input is not a parent-pointer forest — " +
          "some node has multiple parents (first offenders: " +
          multiParent.select("node").limit(3).collect().mkString(", ") + ")")
    }
    // one doubling per [[Fixpoint]] round; progress = the new d == 2^r rows
    Fixpoint.iterate("ancestorClosure",
        edges.select(col("node"), col("parent").as("anc"), lit(1L).as("d")),
        maxRounds, s"depth exceeds 2^$maxRounds: a cycle, or raise maxRounds") {
      (closure, round) =>
        val jump = closure.filter(col("d") === (1L << (round - 1)))
        val grown = closure.as("c")
          .join(jump.as("j"), col("c.anc") === col("j.node"))
          .select(col("c.node").as("node"), col("j.anc").as("anc"),
            (col("c.d") + col("j.d")).as("d"))
        (closure.unionByName(grown), col("d") === (1L << round))
    }
  }

  /** Bottom-up level-synchronous SKETCH rollup: per-node subtree KMV
    * sketches for ALL nodes, built by pushing each level's accumulated
    * sketches one edge root-ward per round and re-merging with the
    * array-input [[graft.functions.KmvMergeAggregate]].
    *
    * This is the DEEP-hierarchy twin of the closure-merge formulation
    * (`hier_distinct_rollup` in SparkEntry): merging along the ancestor
    * closure feeds O(n·depth) sketch rows to the aggregate — ideal for
    * the shallow trees of BI hierarchies — but each sketch is touched
    * once per ancestor LEVEL, so on deep hierarchies (threaded
    * conversations, file trees, org chains: depth in the hundreds) the
    * closure itself is the blow-up. Level-synchronous merging touches
    * each node's sketch exactly twice (once as a child, once as a
    * parent): total work O(n·k) regardless of depth, at the cost of
    * `depth` sequential rounds. Crossover rule of thumb: closure-merge
    * below a few dozen levels, this above.
    *
    * Nodes absent from `perNode` (no own rows) still relay their
    * descendants' sketches — they start from an empty sketch.
    * Bit-identical to the closure path and to sketching each subtree
    * directly (HierarchySpec pins both) by KMV merge associativity.
    *
    * `perNode`: (node, sk array<bigint>); `edges`: (node, parent).
    * Returns (node, sk) for every node in `edges` ∪ `perNode`.
    */
  def subtreeSketchRollup(
      perNode: DataFrame, edges: DataFrame, k: Int,
      prebuiltClosure: Option[DataFrame] = None): DataFrame = {
    val closure = prebuiltClosure.getOrElse(ancestorClosure(edges))
    val depths = closure.groupBy("node").agg(max("d").as("depth"))
    // static per-node metadata: depth (root = 0) and parent (null = root)
    val meta = perNode.select(col("node"))
      .unionByName(edges.select(col("node")))
      .unionByName(edges.select(col("parent").as("node")))
      .distinct()
      .join(depths, Seq("node"), "left")
      .na.fill(0L, Seq("depth"))
      .join(edges, Seq("node"), "left") // adds nullable parent
      .localCheckpoint()
    val empty = array().cast("array<bigint>")
    var sk = meta.select(col("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("sk"), empty).as("sk"))
      .localCheckpoint()
    // empty input → max(depth) is NULL; default 0 (no rounds) instead of
    // an NPE, so the empty rollup is the empty frame
    val maxDepth = Option(meta.agg(max("depth")).head()
      .getAs[java.lang.Long](0)).map(_.toLong).getOrElse(0L)
    for (lvl <- maxDepth to 1L by -1L) {
      val lvlNodes = meta.filter(col("depth") === lvl)
        .select(col("node"), col("parent"))
      val pushed = sk.join(lvlNodes, "node")
        .filter(col("parent").isNotNull)
        .select(col("parent").as("node"), col("sk"))
      val targets = meta.filter(col("depth") === lvl - 1).select("node")
      val mergedTargets = sk.join(targets, "node")
        .unionByName(pushed)
        .groupBy("node")
        .agg(graft.functions.KmvAggregate.kmvMerge(col("sk"), k).as("sk"))
      sk = sk.join(meta.select("node", "depth"), "node")
        .filter(col("depth") =!= lvl - 1)
        .select(col("node"), col("sk"))
        .unionByName(mergedTargets)
        .localCheckpoint()
    }
    sk
  }

  /** Per-node subtree rollup: depth (root = 0), descendant-or-self count,
    * and the decimal-exact subtree sum of `nodes.value`. `nodes` columns:
    * `node`, `value` (decimal — sums must be associative, the
    * [[IncrementalAgg]] lesson). One closure build + ONE grouped
    * aggregate over the closure; no per-level passes.
    */
  def subtreeRollup(
      nodes: DataFrame, edges: DataFrame,
      prebuiltClosure: Option[DataFrame] = None): DataFrame = {
    val closure = prebuiltClosure.getOrElse(ancestorClosure(edges))
    val pairs = closure.select(col("node"), col("anc"))
      .unionByName(nodes.select(col("node"), col("node").as("anc")))
    val depths = closure.groupBy("node").agg(max("d").as("depth"))
    val rolled = pairs.join(nodes, "node")
      .groupBy(col("anc").as("node"))
      .agg(count(lit(1)).as("n_subtree"),
        sum(col("value")).as("subtree_value"))
    rolled.join(depths, Seq("node"), "left")
      .select(col("node"), coalesce(col("depth"), lit(0L)).as("depth"),
        col("n_subtree"),
        col("subtree_value").cast("double").as("subtree_value"))
  }
}
