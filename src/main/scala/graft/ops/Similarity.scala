package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ExactRatio.exactRatio

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`): brute-force cosine top-k as the exact baseline, and an
  * IVF (inverted-file) variant as the scale path.
  *
  * Scale design: brute force is O(queries x corpus) with the corpus scanned
  * once per batch of broadcast queries — right when queries are few. IVF
  * first assigns every vector to its nearest of C centroids (narrow after a
  * centroid broadcast), then probes only the query's cell: O(queries x
  * corpus / C) — at 100 TB the assignment is one pass and each probe touches
  * ~1/C of the data (partition-prunable when the table is written
  * partitioned by cell).
  *
  * All math in double with results rounded to 6 before ranking, and ties
  * broken by vec_id, so rankings are bit-stable across engines (the DuckDB
  * oracle reproduces them exactly).
  */
object Similarity {

  /** Cast float vector to double and attach its L2 norm (narrow). Norm uses
    * the codegen'd [[graft.functions.L2Norm]] expression — same left-to-right
    * accumulation as the higher-order formulation, minus the interpreted
    * lambda-per-element overhead.
    */
  def withNorm(embeddings: DataFrame): DataFrame = {
    val vec = transform(col("embedding"), x => x.cast("double"))
    // deliberately NOT [[Spread.byKey]]-pinned: only the PQ paths carry
    // enough per-vector fan-out CPU (n×m×codebookSize encode/ADC work) to
    // pay for a pinned exchange — pinning here measured −18/−27% on the
    // PQ queries but +24/+57% on the light paths (sq8, hard_negatives,
    // brute-force ndcg), so the pin lives in pqTopK/ivfPqTopK instead
    // (r13, same-session Diag).
    embeddings
      .withColumn("vec", vec)
      .withColumn("norm", graft.functions.VectorFunctions.l2norm(col("vec")))
      .drop("embedding")
  }

  /** Cosine similarity of two pre-normed double vectors, rounded to 6.
    * Dot product via the codegen'd [[graft.functions.DotProduct]].
    */
  def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    round(graft.functions.VectorFunctions.dot(va, vb) / (na * nb), 6)

  /** Query subset `vec_id % queryMod == 0` projected to
    * (query_id, qvec, qnorm[, cell]) — the shared query derivation of every
    * top-k variant (single-sourced so the subset rule and column contract
    * cannot drift between variants).
    */
  private def querySubset(v: DataFrame, queryMod: Int, withCell: Boolean): DataFrame = {
    val cols = Seq(col("vec_id").as("query_id"), col("vec").as("qvec"),
      col("norm").as("qnorm")) ++ (if (withCell) Seq(col("cell")) else Nil)
    v.filter(pmod(col("vec_id"), lit(queryMod)) === 0).select(cols: _*)
  }

  /** Scores candidates against the (guard-broadcast) query set. With a
    * `cellKey` the join is an equi-join and an oversized query set degrades
    * to a shuffle join ([[graft.operators.Broadcasting.checked]]); without
    * one the join condition is non-equi, a silent shuffle fallback would
    * plan a cartesian product, so an oversized set FAILS FAST instead
    * ([[graft.operators.Broadcasting.checkedOrFail]]). Self-matches are
    * excluded either way.
    */
  private def scoreAgainst(
      candidates: DataFrame, q: DataFrame, cellKey: Option[String],
      tag: String): DataFrame = {
    val joined = cellKey match {
      case Some(key) =>
        candidates.join(graft.operators.Broadcasting.checked(q), Seq(key))
          .filter(col("vec_id") =!= col("query_id"))
      case None =>
        candidates.join(graft.operators.Broadcasting.checkedOrFail(q, tag = tag),
          col("vec_id") =!= col("query_id"))
    }
    joined.select(col("query_id"), col("vec_id").as("neighbor_id"),
      cosine(col("qvec"), col("vec"), col("qnorm"), col("norm")).as("cos_sim"))
  }

  /** Shared ranking tail: rank (cos_sim desc, neighbor_id asc) per query,
    * keep the top `k`. One definition of the tie-break = one place to keep
    * every variant's oracle parity.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Exact top-k neighbors by cosine for the query subset
    * `vec_id % queryMod == 0`. Queries are broadcast (guarded — the
    * contract is "queries are FEW"); the corpus is scanned once.
    *
    * Scale-curve note (the sf10 rung's quadratic anchor): the fixture's
    * `vec_id % queryMod` subset grows WITH the corpus, so measured cost is
    * O(n²/queryMod) by construction — the fixture is certifying the exact
    * ground truth, not modeling production. A production run holds the
    * query batch FIXED (the scoring pass is O(n·|batch|), linear in the
    * corpus); to measure that shape, scale queryMod with the data so
    * |queries| stays constant.
    */
  def bruteForceTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame = {
    val v = withNorm(embeddings)
    rankTopK(scoreAgainst(v, querySubset(v, queryMod, withCell = false),
      None, "brute-force query set"), k)
  }

  /** Same result set as [[bruteForceTopK]] but ranked with the custom
    * [[graft.functions.TopKAggregate]] instead of sort + row_number: one
    * hash aggregate with bounded per-map-task heaps, so the exchange
    * carries O(queries x k) pairs instead of the full candidate set —
    * the formulation that survives a 100x candidate blow-up.
    */
  def bruteForceTopKAgg(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame = {
    val v = withNorm(embeddings)
    val scored = scoreAgainst(v, querySubset(v, queryMod, withCell = false),
      None, "top-k agg query set")
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAggregate.topk(col("cos_sim"), col("neighbor_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("query_id"), col("pair.id").as("neighbor_id"),
        col("pair.score").as("cos_sim"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Exact max-inner-product (MIPS) top-k for the query subset — the
    * recommender/retrieval scoring shape where vectors are deliberately
    * NOT normalized: magnitude carries signal (item popularity, document
    * authority), so the score is the raw dot product, and the cosine
    * variants above would rank differently. The classic norm-augmentation
    * reduction (append sqrt(M² − ‖x‖²) to candidates, 0 to queries) turns
    * MIPS into cosine over d+1 dims, making every IVF/PQ variant in this
    * file the 100 TB path; this exact scorer is both the baseline and the
    * recall ground truth for that reduction.
    *
    * Plan: same bounded-query contract as [[bruteForceTopK]] — the query
    * set broadcasts via `checkedOrFail` (throws rather than silently
    * planning an unbounded cartesian), the corpus is scanned once, and
    * ranking is the [[graft.functions.TopKAggregate]] heap aggregate so
    * the exchange carries O(queries × k) pairs, never the full candidate
    * set. Tie-break (score desc, neighbor_id asc) matches the family.
    *
    * Scale-curve note: same quadratic-anchor caveat as [[bruteForceTopK]]
    * — the fixture query subset grows with n, so sf10 cells measure
    * O(n²/queryMod) certification cost; production holds the query batch
    * fixed and the scoring pass is linear in the corpus.
    */
  def mipsTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame = {
    val v = withNorm(embeddings)
    val q = v.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = v.join(
        graft.operators.Broadcasting.checkedOrFail(q, tag = "MIPS query set"),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(col("qvec"), col("vec")), 6)
          .as("ip"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAggregate.topk(col("ip"), col("neighbor_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("query_id"), col("pair.id").as("neighbor_id"),
        col("pair.score").as("ip"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** The [[mipsTopK]] SCALE PATH, made real: IVF-bucketed MIPS via the
    * norm-augmentation reduction. Every candidate gains a (d+1)-th
    * coordinate sqrt(M² − ‖v‖²) (M = corpus max norm, one 1-row
    * broadcast), so every augmented candidate has norm EXACTLY M and
    * augmented-cosine order per query equals raw inner-product order —
    * which means the cosine-IVF machinery (seeded centroids on the
    * augmented vectors, the map-side-combinable argmax assignment,
    * cell-confined candidate sets) applies verbatim to MIPS. Published
    * scores are the EXACT raw dot products of the ORIGINAL vectors
    * (carried through assignment), rounded like [[mipsTopK]]'s, so the
    * approximation is only in candidate recall, never in a score a user
    * reads.
    *
    * Asymmetric probing is load-bearing: candidates bucket by their
    * CANDIDATE form [v, sqrt(M²−‖v‖²)], but a query must probe with its
    * QUERY form [q, 0] — probing with the candidate form buckets the
    * query by its own norm neighborhood instead of where its large
    * inner products live. Measured on the (near-random, ANN-adversarial)
    * fixture: recall@5 0.24 self-probed → 0.52 query-form multi-probed
    * at nProbe=4 — vs ~0.17 for the cosine family's own certified
    * single-probe recall on the same fixture (`sim_recall_report`).
    * Queries take `nProbe` cells (the multi-probe window runs on the
    * BOUNDED query subset only). The full lever curve is measured, not
    * just the one certified point: recall@5 = 0.160 / 0.300 / 0.535 /
    * 0.805 at nProbe = 1 / 2 / 4 / 8 (graft.MipsProbeSweep, sf0.1;
    * BASELINE.md footnote 35) — ≈ +0.14–0.27 recall per probe
    * doubling at O(nProbe·n/C) extra candidate pairs per query.
    *
    * Plan: assignment is the [[ivfTopK]] shape — broadcast centroids,
    * partial-agg argmax collapsing to n rows before any exchange — then
    * ONE cell equi-join confines scoring to the query's probed cells
    * (O(nProbe·n·n^½/queryShare) pairs at the CellLadder sizing, vs the
    * exact anchor's O(n²/queryShare)); ranking is the TopKAggregate
    * heap, so the final exchange is O(queries × k).
    */
  def mipsIvfTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val v = withNorm(embeddings)
    val m = v.agg(max(col("norm")).as("mx"))
    val a = v.crossJoin(broadcast(m)).select(
      col("vec_id"),
      concat(col("vec"), array(
        sqrt(col("mx") * col("mx") - col("norm") * col("norm")))).as("vec"),
      col("mx").as("norm"),
      col("vec").as("ovec"))
    val cents = seedCentroids(a, nCentroids)
    val cells = assignCells(a, cents, nProbe = 1, carry = Seq("ovec"))
    // query-form probing: [q, 0] scored against the SAME augmented
    // centroids; the original norm is the correct ‖[q, 0]‖
    val qv = v.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id"), concat(col("vec"), array(lit(0.0))).as("vec"),
        col("norm"), col("vec").as("ovec"))
    val probes = assignCells(qv, cents, nProbe, carry = Seq("ovec"))
      .select(col("vec_id").as("query_id"), col("ovec").as("qvec"), col("cell"))
    val scored = cells
      .join(graft.operators.Broadcasting.checked(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(col("qvec"), col("ovec")), 6)
          .as("ip"))
    scored.groupBy("query_id")
      .agg(graft.functions.TopKAggregate.topk(col("ip"), col("neighbor_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col("query_id"), col("pair.id").as("neighbor_id"),
        col("pair.score").as("ip"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** k-NN label classification for the query subset: each query's label is
    * predicted by majority vote over its [[bruteForceTopK]] neighbors
    * (ties: most votes, then lowest label), compared against the query's
    * own label. The standard embedding-space eval — "do my vectors cluster
    * by label?" — and, run against an unlabeled split, the label-propagation
    * primitive for weak supervision.
    *
    * Plan: the top-k output is O(queries×k) and BOTH label attachments
    * broadcast that bounded side against the corpus-sized label table —
    * the corpus is never shuffled. The vote aggregate and winner window
    * run on O(queries×labels) rows. Swap the brute scorer for
    * [[ivfTopK]] at corpus scale; the vote tail is scorer-agnostic.
    */
  def knnClassify(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    val topk = bruteForceTopK(embeddings, k, queryMod)
    val votes = labels.withColumnRenamed("vec_id", "neighbor_id")
      .join(graft.operators.Broadcasting.checked(topk), Seq("neighbor_id"))
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("label").asc)
    val pred = votes.withColumn("rw", row_number().over(w))
      .filter(col("rw") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
    labels
      .select(col("vec_id").as("query_id"), col("label").as("true_label"))
      .join(graft.operators.Broadcasting.checked(pred), Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("votes"), (col("true_label") === col("pred_label")).as("correct"))
  }

  /** IVF cell assignment: each vector labeled with its `nProbe` nearest of
    * `nCentroids` centroids (centroids = the lowest vec_ids — a
    * deterministic stand-in for a k-means pass, which would run offline at
    * scale). Centroids are broadcast, so assignment is one narrow pass over
    * the corpus; ties broken (cos desc, cent_id asc) for cross-engine
    * stability. Output: (vec_id, vec, norm, cell) — one row per probed
    * cell; nProbe = 1 (the default) is the plain single-cell assignment.
    */
  def ivfAssign(
      embeddings: DataFrame, nCentroids: Int = 16, nProbe: Int = 1): DataFrame = {
    val v = withNorm(embeddings)
    assignCells(v, seedCentroids(v, nCentroids), nProbe)
  }

  /** Assignment against a caller-supplied centroid frame
    * (cent_id, cvec, cnorm) — e.g. one refined by [[kmeansCentroids]].
    */
  def ivfAssignTo(
      embeddings: DataFrame, cents: DataFrame, nProbe: Int = 1): DataFrame =
    assignCells(withNorm(embeddings), cents, nProbe)

  private def seedCentroids(v: DataFrame, nCentroids: Int): DataFrame =
    v.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("vec").as("cvec"), col("norm").as("cnorm"))

  private def assignCells(
      v: DataFrame, cents: DataFrame, nProbe: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val carried = carry.map(col)
    val scored = v.join(broadcast(cents))
      .select(Seq(col("vec_id"), col("vec"), col("norm"), col("cent_id"),
        cosine(col("vec"), col("cvec"), col("norm"), col("cnorm")).as("c_cos"))
        ++ carried: _*)
    if (nProbe == 1) {
      // Single-probe argmax as a map-side-combinable aggregate: the
      // broadcast join explodes each vector into |cells| rows INSIDE its
      // partition, and the partial max_by collapses them back to one row
      // per vector BEFORE the exchange — so shuffle volume is n rows at
      // any cell count. The previous window rendering shuffled all n×C
      // scored rows (sf10 rung at C=1024: 512M rows ≈ the whole
      // assignment's ~100 s). Tie-break identical to the window
      // (max (c_cos, −cent_id) = highest cosine, then lowest cent_id).
      val aggs =
        Seq(first(col("vec")).as("vec"), first(col("norm")).as("norm"),
          max_by(col("cent_id"),
            struct(col("c_cos"), (-col("cent_id")).as("nid"))).as("cell")) ++
          carry.map(c => first(col(c)).as(c))
      scored.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
        .select(Seq(col("vec_id"), col("vec"), col("norm"), col("cell"))
          ++ carried: _*)
    } else {
      // multi-probe keeps the window (top-nProbe per vector; its only
      // caller runs at fixed small C where the n×C exchange is bounded)
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(col("c_cos").desc, col("cent_id").asc)
      scored
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") <= nProbe)
        .select(Seq(col("vec_id"), col("vec"), col("norm"),
          col("cent_id").as("cell")) ++ carried: _*)
    }
  }

  /** Spherical k-means centroid refinement: `iters` Lloyd iterations from
    * the deterministic lowest-vec_id seeds. Each iteration is one broadcast
    * assignment pass plus one aggregation: explode the assigned vectors to
    * (cell, dim, x) rows, average per (cell, dim), and fold the per-dim
    * means back into an array (sorted by dim, so reassembly is
    * deterministic). Because cosine ignores the centroid's norm, the plain
    * per-dim mean IS the spherical k-means update, and the objective
    * (sum of best cosines) is non-decreasing per iteration.
    *
    * Scale: state per iteration is k x dim (broadcast); the aggregation
    * shuffles (cell, dim) partial sums — map-side combined, O(k x dim)
    * groups regardless of corpus size. A cell that loses all members drops
    * out (standard Lloyd degeneracy; k shrinks rather than resurrecting an
    * arbitrary point). The refined frame plugs into [[ivfAssignTo]] /
    * the oracle-checked queries keep the deterministic seeds so results
    * stay engine-portable.
    */
  def kmeansCentroids(
      embeddings: DataFrame, k: Int = 16, iters: Int = 2): DataFrame = {
    val v = withNorm(embeddings)
    var cents = seedCentroids(v, k)
    for (_ <- 0 until iters) {
      val assigned = assignCells(v, cents, nProbe = 1)
      cents = localize(assigned
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cell").agg(
          transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("cvec"))
        .select(col("cell").as("cent_id"), col("cvec"),
          graft.functions.VectorFunctions.l2norm(col("cvec")).as("cnorm")))
    }
    cents
  }

  /** Materializes a centroid frame into a driver-local relation. K-means
    * state is k x dim BY CONSTRUCTION (bounded, like every k-means
    * implementation's driver state), so collecting it is principled — and
    * essential for plan health: left lazy, each Lloyd iteration's plan
    * embeds the previous one (exponential lineage in `iters`), and every
    * consumer (corpus assignment, query assignment, each a broadcast)
    * re-runs the whole refinement pipeline — observed as 12 scans of the
    * corpus in one top-k plan. As a LocalRelation the refinement runs
    * once, and the corpus/query assignment subtrees become identical so
    * exchange reuse collapses them.
    */
  private def localize(cents: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    cents.sparkSession.createDataFrame(
      cents.collect().toSeq.asJava, cents.schema)
  }

  /** Per-dimension scalar quantization (SQ8-style): global (min, span) per
    * dimension, each component mapped to round((x - min) * (levels-1) /
    * span) — the 4x storage cut (float32 -> int8 codes) that makes a
    * 100 TB embedding corpus memory-resident on a fraction of the nodes.
    * Returns (vec_id, qvec) plus the codebook columns (mns, spans) carried
    * for dequantization. Constant dimensions (span = 0) quantize to 0.
    *
    * Scale: the codebook is one explode + one 2*dim-cell aggregate (one
    * pass, map-side combined), then a broadcast of 2*dim doubles; the
    * quantization itself is a narrow zip_with projection at scan speed.
    * All math is integer-exact after the single round, so codes are
    * bit-identical across engines.
    */
  def sqQuantize(embeddings: DataFrame, levels: Int = 256): DataFrame = {
    val v = withNorm(embeddings)
    val stats = v
      .select(posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("pos"),
          (col("mx") - col("mn")).as("span")))),
          s => s.getField("span")).as("spans"))
    v.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("mns"), col("spans"),
        zip_with(
          zip_with(col("vec"), col("mns"), (x, mn) => x - mn),
          col("spans"),
          (d, s) => when(s === 0, 0)
            .otherwise(round(d * (levels - 1) / s).cast("int"))).as("qvec"))
  }

  /** Quantization-error audit of [[sqQuantize]] — the acceptance report a
    * production deployment publishes before switching serving to the 4×
    * smaller codes: per label-group, element counts and the absolute
    * reconstruction-error distribution (sum / max / mean, plus the sum of
    * squares for RMSE). Errors are e6-quantized per ELEMENT
    * (floor(|x − xq|·1e6) — floor of identical doubles is engine-exact)
    * so every aggregate is an order-independent BIGINT sum; the only
    * doubles presented are single divisions of exact integers. Headroom:
    * |err_e6| ≤ span·1e6/510 ≈ 4e3, squared ≤ 1.6e7 — the squared sum
    * stays under 2^63 beyond 10^10 elements.
    *
    * Plan: quantize (narrow) → join codes back to originals on vec_id
    * (same exchange both sides) → posexplode → one partial-aggregated
    * groupBy(label). Linear, no pairwise anything.
    */
  def sqErrorAudit(embeddings: DataFrame, levels: Int = 256): DataFrame = {
    val orig = withNorm(embeddings)
      .select(col("vec_id"), col("vec"))
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
    val deq = sqQuantize(embeddings, levels)
      .select(col("vec_id"),
        zip_with(
          zip_with(col("qvec"), col("spans"),
            (q, s) => q.cast("double") * s / (levels - 1)),
          col("mns"), (d, mn) => d + mn).as("xq"))
    orig.join(deq, Seq("vec_id"))
      .select(col("label"),
        posexplode(zip_with(col("vec"), col("xq"),
          (x, y) => floor(abs(x - y) * 1e6).cast("long"))).as(Seq("pos", "e")))
      .groupBy("label")
      // numeric budget (r12 sweep): e ≤ span/(2·(levels−1))·10⁶ ≈ 4×10³
      // for unit-range embeddings, so Σe² ≤ n_elems·1.6×10⁷ — BIGINT
      // holds to ~5×10¹¹ elements (10⁹ vectors × 512 dims). Documented,
      // not silent (ANSI fails the sum loudly past that); the output
      // column stays the BIGINT the oracle hash-certifies.
      .agg(count(lit(1)).as("n_elems"),
        sum(col("e")).as("sum_abs_err_e6"),
        max(col("e")).as("max_abs_err_e6"),
        sum(col("e") * col("e")).as("sum_sq_err_e12"))
      .select(col("label"), col("n_elems"), col("sum_abs_err_e6"),
        col("max_abs_err_e6"), col("sum_sq_err_e12"),
        // ONE double division of exact BIGINTs (engine-identical; the
        // checker rounds 6 dp) — ExactRatio's 2e6-scaled numerator would
        // overflow first on corpus-scale sums
        (col("sum_abs_err_e6").cast("double") / col("n_elems").cast("double"))
          .as("mean_abs_err_e6"))
      .orderBy(col("label").asc)
  }

  /** Brute-force cosine top-k over DEQUANTIZED [[sqQuantize]] codes — the
    * accuracy/throughput trade a quantized ANN serves: 4x less data
    * scanned per probe at a small, measurable ranking error vs the exact
    * path (compare against [[bruteForceTopK]] on the same queries).
    * Reconstruction xq = mn + q * span / (levels-1) is deterministic
    * double math, so the ranking is engine-portable like every other
    * similarity oracle.
    *
    * DESIGN CURVE (sf10 rung, r11): brute like its exact twin —
    * O(queries × corpus) scored rows; a recall anchor measured to sf1,
    * excluded at 100× (the IVF paths are the corpus-scale ANN).
    */
  def sqTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50,
      levels: Int = 256): DataFrame = {
    val deq = sqQuantize(embeddings, levels)
      .select(col("vec_id"),
        zip_with(
          zip_with(col("qvec"), col("spans"),
            (q, s) => q.cast("double") * s / (levels - 1)),
          col("mns"), (d, mn) => d + mn).as("vec"))
      .withColumn("norm", graft.functions.VectorFunctions.l2norm(col("vec")))
    rankTopK(scoreAgainst(deq, querySubset(deq, queryMod, withCell = false),
      None, "sq top-k query set"), k)
  }

  /** Splits each (id, vec, norm) row into `m` equal UNIT-scaled subvectors:
    * (id, sub_m, sub, sn2) with sub_m in [0, m) and sn2 = |sub|^2.
    *
    * PQ quantizes unit vectors, so its native squared-L2 metric becomes
    * 2 - 2*cosine — rank-equivalent to the cosine every other similarity
    * operator ranks by (on raw vectors the two metrics disagree and PQ
    * would answer a different question than [[bruteForceTopK]]).
    *
    * The normalization division runs AFTER the explode, on the 4-element
    * slice, never on the full vector: normalizing the whole vector first
    * looks equivalent, but CollapseProject folds that (interpreted,
    * non-codegen) higher-order transform into the generator's `m` slice
    * arguments — the 64-element lambda then re-evaluates once per slice,
    * and the measured encode cost at sf0.1 was ~3 s of interpreted lambda
    * churn for a 2000-row corpus. Same math either way (slice-then-divide
    * commutes with divide-then-slice), 16x less interpreted work. The
    * squared norm is precomputed here for the same reason: the candidate
    * join then evaluates ONE dot per pair instead of three.
    */
  private def subVectors(
      v: DataFrame, idCol: String, m: Int, carry: Seq[String] = Nil): DataFrame = {
    val subd = (size(col("vec")) / m).cast("int")
    val dot = graft.functions.VectorFunctions.dot _
    val carried = carry.map(col)
    v.select(Seq(col(idCol), col("norm")) ++ carried :+ posexplode(
        array((0 until m).map(i => slice(col("vec"), lit(i) * subd + 1, subd)): _*))
      .as(Seq("sub_m", "sub_raw")): _*)
      .select(Seq(col(idCol), col("sub_m"),
        transform(col("sub_raw"), x => x / col("norm")).as("sub")) ++ carried: _*)
      .withColumn("sn2", dot(col("sub"), col("sub")))
  }

  /** Per-subspace PQ codebook: the subvectors of the `codebookSize` lowest
    * vec_ids — the same deterministic k-means stand-in as [[ivfAssign]]'s
    * seeds (a production build refines each subspace's codebook offline
    * with [[kmeansCentroids]]-style Lloyd passes).
    */
  private def pqCodebook(v: DataFrame, m: Int, codebookSize: Int): DataFrame =
    subVectors(v.filter(col("vec_id") < codebookSize), "vec_id", m)
      .select(col("vec_id").as("cent_id"), col("sub_m"),
        col("sub").as("csub"), col("sn2").as("cn2"))

  /** Product-quantization encoding: each unit vector becomes `m` one-byte
    * codes (nearest codebook entry per subspace, ties to the lower
    * cent_id) — a 16x storage cut at the defaults (64 float32 -> 16 byte
    * codes) that lets a 100 TB embedding corpus sit in memory on a
    * fraction of the nodes, at higher resolution than one global centroid
    * (IVF) because each subspace quantizes independently.
    *
    * Scale: the codebook (m x codebookSize subvectors) broadcasts; encoding
    * is one narrow explode + broadcast join + a map-side-combined min-struct
    * aggregate — the shuffle carries n x m (vec_id, sub_m, best) rows, never
    * the n x m x codebookSize candidate set.
    */
  def pqEncode(embeddings: DataFrame, m: Int = 16, codebookSize: Int = 64): DataFrame = {
    val v = withNorm(embeddings)
    pqEncodeAssigned(subVectors(v, "vec_id", m), pqCodebook(v, m, codebookSize))
  }

  /** Pack base for the encode argmin: code = packed % PackBase, so the
    * codebook may hold up to 2^20 entries and micro-scaled subspace
    * distances up to ~8.8e12 before the packing overflows a long.
    */
  private val PackBase = 1L << 20

  private def pqEncodeAssigned(
      subs: DataFrame, book: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val dot = graft.functions.VectorFunctions.dot _
    // |s|^2 and |c|^2 ride in from subVectors/pqCodebook (computed once per
    // side), so the n x codebookSize candidate stream evaluates exactly one
    // dot product per pair
    val d2 = col("sn2") - lit(2.0) * dot(col("sub"), col("csub")) + col("cn2")
    // argmin by (rounded-to-micro d2, cent_id), both packed into ONE long:
    // a struct-typed min buffer demotes the aggregate to SortAggregate
    // (sorts the n x codebookSize candidate stream; measured 4.5 s at
    // sf0.1), while a long min is a codegen'd hash aggregate with map-side
    // combine. Same argmin: lexicographic (micro-d2, cent_id) order is
    // exactly the packed long's order. `carry` columns (functionally
    // dependent on vec_id, e.g. the IVF cell) ride the groupBy keys so no
    // second join has to re-attach them to the n x m code rows.
    val carried = carry.map(col)
    subs.join(broadcast(book), Seq("sub_m"))
      .select(Seq(col("vec_id"), col("sub_m"),
        (round(d2 * 1e6).cast("long") * PackBase + col("cent_id")).as("packed"))
        ++ carried: _*)
      .groupBy(Seq(col("vec_id"), col("sub_m")) ++ carried: _*)
      .agg(min(col("packed")).as("p"))
      .select(Seq(col("vec_id"), col("sub_m"), (col("p") % PackBase).as("code"))
        ++ carried: _*)
  }

  /** PQ top-k via asymmetric distance computation (ADC): queries stay
    * exact; each (query, subspace, codeword) distance is computed ONCE into
    * a distance table of queries x m x codebookSize doubles, and scoring a
    * corpus vector is then m table lookups + a sum — here the lookup is a
    * broadcast equi-join on (sub_m, code), the join-engine rendering of
    * the array-index lookup a native scorer would do. Ranked by
    * approximate squared L2 ascending (PQ's native metric), ties to the
    * lower neighbor_id.
    *
    * Scale: the scored stream carries n x m rows pre-aggregation
    * (map-side-combined into n x queries partial sums); nothing all-pairs,
    * nothing driver-side. Recall vs the exact ranking is the m/codebookSize
    * trade, pinned by SimilaritySpec on the fixture.
    *
    * DESIGN CURVE (sf10 rung, r11): with queries ∝ corpus the n×queries
    * partial-sum state is quadratic — full-ADC PQ is the recall ANCHOR
    * (like [[bruteForceTopK]]), measured to sf1 only; at 100× it spilled
    * the bench disk. The corpus-scale path is [[ivfPqTopK]] (same codes,
    * cell-blocked candidates), certified at sf10.
    */
  def pqTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50,
      m: Int = 16, codebookSize: Int = 64): DataFrame = {
    val dot = graft.functions.VectorFunctions.dot _
    // pinned vec_id exchange: the n×m×codebookSize encode aggregate and
    // the ADC scoring fan-out otherwise run inside the single-split scan
    // task (r13 StageProf: every stage 1-task, encode alone 0.77 s CPU)
    val v = Spread.byKey(withNorm(embeddings), col("vec_id"))
    val book = pqCodebook(v, m, codebookSize)
    val codes = pqEncodeAssigned(subVectors(v, "vec_id", m), book)
    val qsubs = subVectors(
      v.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
        .select(col("vec_id").as("query_id"), col("vec"), col("norm")),
      "query_id", m)
      .select(col("query_id"), col("sub_m"),
        col("sub").as("qsub"), col("sn2").as("qn2"))
    val dtable = qsubs.join(book, Seq("sub_m"))
      .select(col("query_id"), col("sub_m"), col("cent_id").as("code"),
        round(col("qn2") - lit(2.0) * dot(col("qsub"), col("csub")) + col("cn2"), 6)
          .as("d"))
    val scored = codes
      .join(graft.operators.Broadcasting.checked(dtable), Seq("sub_m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(round(sum(col("d")), 6).as("approx_dist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Hard-negative mining for contrastive training: each query vector's
    * top-k most SIMILAR cell-mates with a DIFFERENT label — the
    * highest-loss negatives a contrastive/metric-learning objective wants
    * (random negatives are trivially separable; the hard ones are near
    * the decision boundary by construction). Same IVF blocking, guarded
    * query broadcast, and rank/tie discipline as [[ivfTopK]]; the label
    * pair-filter rides the scoring join, costing nothing extra.
    */
  def hardNegatives(
      embeddings: DataFrame, k: Int = 3, queryMod: Int = 50,
      nCentroids: Int = 16): DataFrame = {
    val v = withNorm(embeddings) // withColumn-based: label survives
    val corpus = assignCells(v, seedCentroids(v, nCentroids), nProbe = 1,
      carry = Seq("label"))
    val q = corpus.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("norm").as("qnorm"), col("cell"), col("label").as("qlabel"))
    val scored = corpus
      .join(graft.operators.Broadcasting.checked(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        cosine(col("qvec"), col("vec"), col("qnorm"), col("norm")).as("cos_sim"))
    rankTopK(scored, k)
  }

  /** IVF-PQ composite — the production 100 TB ANN layout (FAISS IVFPQ):
    * the corpus is partitioned into IVF cells AND PQ-encoded, and a query
    * scores ONLY its probed cell's code lists via the ADC table. Relative
    * to [[pqTopK]]'s exhaustive ADC scan the scored stream shrinks from
    * n x m rows to (n/C) x m; relative to [[ivfTopK]] the per-candidate
    * cost drops from a full-dimension dot product to m table lookups —
    * compounding to the layout where a 100 TB corpus is servable from a
    * fraction of the nodes with per-query work O(n·m/C).
    *
    * Plumbing: the cell label rides the encode aggregate's keys
    * (`carry`) and the probe cell rides the broadcast distance table, so
    * cell restriction adds ZERO exchanges over pqTopK — same bounded
    * broadcasts (centroids, codebook, distance table), nothing all-pairs.
    * Ranking and tie rules match pqTopK (approx L2 asc, neighbor_id asc).
    */
  def ivfPqTopK(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50,
      nCentroids: Int = 0, m: Int = 16, codebookSize: Int = 64): DataFrame = {
    val dot = graft.functions.VectorFunctions.dot _
    // pinned vec_id exchange — the [[pqTopK]] encode/ADC fan-out fix
    val v = Spread.byKey(withNorm(embeddings), col("vec_id"))
    // nCentroids <= 0 → the CellLadder (C² ≥ n): the sf10 rung measured
    // the fixed C=16 composite at 53× for 10× data (scored pairs n²·m/C
    // once queries ∝ n); the production composite sizes its index
    val c = if (nCentroids > 0) nCentroids
      else adaptiveCellCount(embeddings.count())
    val cells = assignCells(v, seedCentroids(v, c), 1)
    val book = pqCodebook(v, m, codebookSize)
    val codes = pqEncodeAssigned(
      subVectors(cells, "vec_id", m, carry = Seq("cell")), book, carry = Seq("cell"))
    val qcells = cells.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("cell"))
    val qsubs = subVectors(
      v.filter(pmod(col("vec_id"), lit(queryMod)) === 0)
        .select(col("vec_id").as("query_id"), col("vec"), col("norm")),
      "query_id", m)
      .select(col("query_id"), col("sub_m"),
        col("sub").as("qsub"), col("sn2").as("qn2"))
    val dtable = qsubs.join(book, Seq("sub_m"))
      .select(col("query_id"), col("sub_m"), col("cent_id").as("code"),
        round(col("qn2") - lit(2.0) * dot(col("qsub"), col("csub")) + col("cn2"), 6)
          .as("d"))
      .join(qcells, "query_id") // probe cell rides the broadcast table
    val scored = codes
      .join(graft.operators.Broadcasting.checked(dtable), Seq("sub_m", "code", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(round(sum(col("d")), 6).as("approx_dist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Two-stage production ANN (FAISS's "refine" layout): the
    * [[ivfPqTopK]] ADC shortlist of `depth` candidates per query,
    * re-ranked by EXACT cosine over the original vectors. PQ's
    * approximation error is confined to the shortlist CUT — the
    * published scores and ordering are exact, so a downstream similarity
    * threshold behaves as if brute force had run, at
    * O(n·m/C + q·depth·dim) instead of O(q·n·dim).
    *
    * Plan: the shortlist is O(queries·depth) rows; candidates join back
    * to their full vectors in one keyed exchange, the tiny query side is
    * a guarded broadcast. Ranking/tie rules are [[rankTopK]]'s —
    * identical to every exact variant, so recall@k against
    * [[bruteForceTopK]] measures ONLY the shortlist cut.
    */
  def ivfPqRerankTopK(embeddings: DataFrame, k: Int = 3, depth: Int = 25,
      queryMod: Int = 50): DataFrame = {
    val shortlist = ivfPqTopK(embeddings, k = depth, queryMod = queryMod)
      .select(col("query_id"), col("neighbor_id"))
    val v = withNorm(embeddings)
    val exact = shortlist
      .join(v.select(col("vec_id").as("neighbor_id"), col("vec"), col("norm")),
        Seq("neighbor_id"))
      .join(graft.operators.Broadcasting.checked(
          querySubset(v, queryMod, withCell = false)),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("vec"), col("qnorm"), col("norm")).as("cos_sim"))
    rankTopK(exact, k)
  }

  /** Centroid-relative outlier detection — the embedding-space corpus
    * QUALITY operator: vectors much farther from their own cell's centroid
    * than their cell-mates (z-score of the own-centroid cosine above
    * `zThresh`) are mislabeled/garbage/adversarial candidates a curation
    * pipeline routes to review. Per-cell mean/stddev ride ONE cell-hash
    * window exchange; scores are rounded to 6 before thresholding so the
    * verdict is engine-stable (the cosines themselves are already rounded,
    * so cross-engine drift only enters via summation order at ~1e-15).
    *
    * Scale: assignment is the [[ivfAssign]] broadcast pass; stats state is
    * O(cells); nothing all-pairs, nothing driver-side.
    */
  def centroidOutliers(embeddings: DataFrame, nCentroids: Int = 16,
      zThresh: Double = 2.0): DataFrame = {
    val v = withNorm(embeddings)
    val cents = seedCentroids(v, nCentroids)
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("c_cos").desc, col("cent_id").asc)
    val assigned = v.join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        cosine(col("vec"), col("cvec"), col("norm"), col("cnorm")).as("c_cos"))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
    val perCell = Window.partitionBy("cent_id")
    assigned
      .withColumn("mu", avg(col("c_cos")).over(perCell))
      .withColumn("sd", stddev_pop(col("c_cos")).over(perCell))
      .withColumn("z", round((col("mu") - col("c_cos")) / col("sd"), 6))
      .filter(col("sd") > 0 && col("z") > zThresh)
      .select(col("vec_id"), col("cent_id").as("cell"), col("c_cos"), col("z"))
  }

  /** IVF top-k: every vector is assigned to its nearest centroid
    * ([[ivfAssign]]); queries probe only their own cell.
    */
  def ivfTopK(
      embeddings: DataFrame, k: Int = 3, queryMod: Int = 50,
      nCentroids: Int = 16): DataFrame = {
    val assigned = ivfAssign(embeddings, nCentroids)
    rankTopK(scoreAgainst(assigned, querySubset(assigned, queryMod, withCell = true),
      Some("cell"), "ivf query set"), k)
  }

  /** [[Dedup.CellLadder]] selection for a corpus of `n` vectors: the
    * smallest power of two with C² ≥ n (floor 16) — integer-exact in both
    * engines, the `dedup_embedding_adaptive` convention.
    */
  private[graft] def adaptiveCellCount(n: Long): Int =
    Dedup.CellLadder.find(p => p.toLong * p >= n).getOrElse(Dedup.CellLadder.last)

  /** [[ivfTopK]] with the cell count GROWING with the corpus: C = smallest
    * power of two with C² ≥ n. The sf10 (100×) rung measured the fixed
    * C=16 curve directly: per-query candidates ∝ n/16, so with queries
    * ∝ n total scored pairs are n²/16 — quadratic, the same shape
    * `dedup_embedding_adaptive` fixed for the near-dup join. With C² ≥ n,
    * scored pairs are capped at ~n·√n/…·queryShare — the production IVF
    * sizing rule (FAISS's 4·√n heuristic, snapped to the integer ladder
    * both engines compute identically). The corpus count is one 1-row
    * action; everything downstream is [[ivfTopK]] verbatim.
    */
  def ivfTopKAdaptive(
      embeddings: DataFrame, k: Int = 3, queryMod: Int = 50): DataFrame =
    ivfTopK(embeddings, k, queryMod,
      nCentroids = adaptiveCellCount(embeddings.count()))

  /** Coarse ladder for the two-level quantizer: smallest power of two
    * (floor 4) whose square covers the FINE cell count — so both levels
    * have ~√C fan-out and both engines compute the identical split.
    */
  private[graft] def coarseCellCount(c: Int): Int =
    Seq(4, 8, 16, 32, 64, 128, 256)
      .find(p => p.toLong * p >= c).getOrElse(256)

  /** Two-level IVF top-k — the hierarchical coarse quantizer the sf10
    * rung motivates: even with [[adaptiveCellCount]] cells, FLAT
    * assignment is O(n·C) = O(n·√n) seed dot products (the measured
    * ~24 s floor of `sim_topk_ivf_adaptive` at 500k vectors). Here a
    * vector first picks its nearest of C1 ≈ √C COARSE seeds (a prefix of
    * the fine seeds), then its nearest FINE seed among that coarse
    * cell's children (each fine seed's parent = its own nearest coarse
    * seed) — O(n·(C1 + C/C1)) ≈ O(n·2·√C) = O(n·n^¼) dots, the FAISS
    * two-level IMI/coarse-quantizer shape. Assignment is approximate
    * (a vector whose true nearest fine seed lives under a different
    * coarse parent lands in a sibling cell — the recall trade every
    * hierarchical ANN makes); scoring inside the probed cell, the
    * ranking, and the tie-breaks are [[ivfTopK]] verbatim. Every stage
    * is a broadcast join + the map-side-combined argmax aggregate —
    * shuffle volume stays n rows regardless of C.
    */
  def ivfTopKHierarchical(
      embeddings: DataFrame, k: Int = 3, queryMod: Int = 50): DataFrame = {
    val cells = hierarchicalAssign(withNorm(embeddings),
      adaptiveCellCount(embeddings.count()))
    rankTopK(scoreAgainst(cells, querySubset(cells, queryMod, withCell = true),
      Some("cell"), "hier ivf query set"), k)
  }

  /** The two-stage assignment of [[ivfTopKHierarchical]], exposed for
    * spec-level invariants. Output: (vec_id, vec, norm, cell).
    */
  private[graft] def hierarchicalAssign(v: DataFrame, c: Int): DataFrame = {
    val c1 = coarseCellCount(c)
    val seeds = seedCentroids(v, c)
    val coarse = seeds.filter(col("cent_id") < c1)
      .select(col("cent_id").as("coarse_id"),
        col("cvec").as("covec"), col("cnorm").as("conorm"))
    def argmaxTo(scored: DataFrame, groupCols: Seq[String], idCol: String,
        keep: Seq[(String, String)], as: String): DataFrame = {
      val aggs = keep.map { case (c0, a) => first(col(c0)).as(a) } :+
        max_by(col(idCol), struct(col("c_cos"), (-col(idCol)).as("nid"))).as(as)
      scored.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
    // each fine seed's parent: its nearest coarse seed (a coarse seed
    // parents itself — cosine 1, lowest-id tie-break keeps it home)
    val parents = argmaxTo(
      seeds.join(broadcast(coarse))
        .select(col("cent_id"), col("cvec"), col("cnorm"), col("coarse_id"),
          cosine(col("cvec"), col("covec"), col("cnorm"), col("conorm"))
            .as("c_cos")),
      Seq("cent_id"), "coarse_id",
      Seq("cvec" -> "cvec", "cnorm" -> "cnorm"), "coarse")
    // stage 1: vector -> coarse cell (n × C1 dots)
    val vCoarse = argmaxTo(
      v.join(broadcast(coarse))
        .select(col("vec_id"), col("vec"), col("norm"), col("coarse_id"),
          cosine(col("vec"), col("covec"), col("norm"), col("conorm"))
            .as("c_cos")),
      Seq("vec_id"), "coarse_id",
      Seq("vec" -> "vec", "norm" -> "norm"), "coarse")
    // stage 2: nearest fine seed among the coarse cell's children only
    argmaxTo(
      vCoarse.join(broadcast(parents), "coarse")
        .select(col("vec_id"), col("vec"), col("norm"), col("cent_id"),
          cosine(col("vec"), col("cvec"), col("norm"), col("cnorm"))
            .as("c_cos")),
      Seq("vec_id"), "cent_id",
      Seq("vec" -> "vec", "norm" -> "norm"), "cell")
      .select(col("vec_id"), col("vec"), col("norm"), col("cell"))
  }

  /** ANN index-quality evaluation: per-query recall@k of [[ivfTopK]]
    * against the [[bruteForceTopK]] ground truth — the "should I trust
    * this index?" report every ANN deployment needs before swapping the
    * exact scorer out. recall = |approx ∩ exact| / |exact| per query.
    *
    * Both inputs are O(queries×k) top-k exits, so everything here — the
    * intersection join, both counts, the fill-zero outer join — runs on
    * bounded tails; the only data-sized work is the two scorers
    * themselves. At corpus scale the brute side is the one-off
    * (sampled-query) certification pass, not a steady-state cost.
    */
  def recallReport(
      embeddings: DataFrame, k: Int = 3, queryMod: Int = 50,
      nCentroids: Int = 16): DataFrame = {
    val exact = bruteForceTopK(embeddings, k, queryMod)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopK(embeddings, k, queryMod, nCentroids)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        exactRatio(coalesce(col("hits"), lit(0L)), col("n_exact"), 6)
          .as("recall"))
  }

  /** Recall certification of the MIPS scale path: per-query recall@k of
    * [[mipsIvfTopK]] against the exact [[mipsTopK]] ground truth — the
    * [[recallReport]] twin for the inner-product metric, run as a GATE
    * row so a probing regression (e.g. reverting to self-probing, which
    * measured recall 0.24 vs 0.52) fails certification, not just a spec.
    * Both sides are bounded top-k tails, so the report itself is
    * O(queries·k) joins after the scorers run.
    */
  def mipsRecallReport(embeddings: DataFrame, k: Int = 5, queryMod: Int = 50,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val exact = mipsTopK(embeddings, k, queryMod)
      .select(col("query_id"), col("neighbor_id"))
    val approx = mipsIvfTopK(embeddings, k, queryMod, nCentroids, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        exactRatio(coalesce(col("hits"), lit(0L)), col("n_exact"), 6)
          .as("recall"))
  }

  /** IVF top-k over k-means-REFINED centroids: [[kmeansCentroids]] runs
    * `iters` deterministic Lloyd iterations from the lowest-vec_id seeds,
    * the refined means are rounded to 6 decimals (so the refined centroids
    * — like every score in this module — are bit-portable across engines;
    * the DuckDB oracle reproduces the identical per-(cell,dim) averages),
    * and the corpus + queries are assigned against the refined cells. With
    * `iters = 1` every intermediate quantity is engine-reproducible; deeper
    * refinement runs offline at scale where cross-engine parity is not the
    * gate.
    */
  def ivfTopKKmeans(
      embeddings: DataFrame, k: Int = 3, queryMod: Int = 50,
      nCentroids: Int = 16, iters: Int = 1): DataFrame = {
    val refined = kmeansCentroids(embeddings, nCentroids, iters)
    val rounded = refined
      .select(col("cent_id"),
        transform(col("cvec"), x => round(x, 6)).as("cvec"))
      .withColumn("cnorm", graft.functions.VectorFunctions.l2norm(col("cvec")))
    val assigned = ivfAssignTo(embeddings, rounded)
    rankTopK(scoreAgainst(assigned, querySubset(assigned, queryMod, withCell = true),
      Some("cell"), "kmeans-ivf query set"), k)
  }

  /** Multi-probe IVF top-k: the corpus stays single-assigned, but each
    * query probes its `nProbe` nearest cells — the standard recall lever
    * when the true neighbor sits just across a cell boundary. Cost is
    * O(queries x nProbe x corpus / C); no pair can duplicate because every
    * corpus vector lives in exactly one cell. (At production scale the
    * probe assignment would run on the query set only, not derived by
    * filtering the corpus-wide assignment as the fixture-sized query mod
    * does here.)
    */
  /** Builds and PERSISTS an IVF index as two versioned snapshot tables —
    * the build-once / query-many lifecycle a production ANN deployment
    * needs (re-assigning 100 TB of vectors per query batch is the
    * anti-pattern the index exists to avoid):
    * `<path>/centroids` (cent_id, cvec, cnorm) and
    * `<path>/cells` (vec_id, vec, norm, cell). Versioning via
    * [[graft.icenet.Snapshots]] means an index rebuild is a new snapshot
    * readers can adopt atomically — and roll back from.
    *
    * Deterministic seed centroids by default so the persisted index is
    * oracle-reproducible; pass `refined = kmeansCentroids(...)` for the
    * offline-quality build.
    */
  def buildIvfIndex(
      embeddings: DataFrame, path: String,
      nCentroids: Int = 16,
      refined: Option[DataFrame] = None): (Long, Long) = {
    val spark = embeddings.sparkSession
    val v = withNorm(embeddings)
    val cents = refined.getOrElse(seedCentroids(v, nCentroids))
    val cellsV = graft.icenet.Snapshots.commit(
      spark, s"$path/cells", assignCells(v, cents, nProbe = 1))
    val centsV = graft.icenet.Snapshots.commit(spark, s"$path/centroids", cents)
    (centsV, cellsV)
  }

  /** Incremental index maintenance: assigns ONLY the `newVectors` batch
    * against the index's STORED centroids and commits the union as a new
    * cells snapshot — the append path that keeps a 100 TB index current
    * without re-assigning the corpus (cost: one narrow pass over the
    * batch + the union write; the existing assignments are re-written but
    * never re-computed; at scale the cells table would be partitioned by
    * cell so the append only rewrites touched partitions). Because the
    * centroids are the frozen originals, an append-then-query is
    * bit-identical to a full rebuild over the union corpus with those
    * centroids (SimilaritySpec pins this), and old snapshot versions stay
    * queryable during and after the append (reader lease).
    */
  def appendToIvfIndex(newVectors: DataFrame, path: String): Long = {
    val spark = newVectors.sparkSession
    val cents = localize(graft.icenet.Snapshots.read(spark, s"$path/centroids"))
    val existing = graft.icenet.Snapshots.read(spark, s"$path/cells")
    val appended = assignCells(withNorm(newVectors), cents, nProbe = 1)
    graft.icenet.Snapshots.commit(
      spark, s"$path/cells", existing.unionByName(appended))
  }

  /** Top-k against a PERSISTED index: queries are assigned with the stored
    * centroids and scored only against their cell's stored vectors — the
    * corpus-side assignment work was paid once at [[buildIvfIndex]] time.
    * With the same parameters this returns exactly [[ivfTopK]]'s results
    * (the spec pins the parity), so a user can switch to the persisted
    * path without re-validating semantics.
    */
  def ivfTopKFromIndex(
      queries: DataFrame, path: String,
      k: Int = 3, queryMod: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    val corpus = graft.icenet.Snapshots.read(spark, s"$path/cells")
    val cents = graft.icenet.Snapshots.read(spark, s"$path/centroids")
    val q = querySubset(assignCells(withNorm(queries), localize(cents), nProbe = 1),
      queryMod, withCell = true)
    rankTopK(scoreAgainst(corpus, q, Some("cell"), "index query set"), k)
  }

  def ivfTopKMultiProbe(
      embeddings: DataFrame, k: Int = 3, queryMod: Int = 50,
      nCentroids: Int = 16, nProbe: Int = 2): DataFrame = {
    val corpus = ivfAssign(embeddings, nCentroids)
    val q = querySubset(ivfAssign(embeddings, nCentroids, nProbe),
      queryMod, withCell = true)
    rankTopK(scoreAgainst(corpus, q, Some("cell"), "multi-probe query set"), k)
  }
}
