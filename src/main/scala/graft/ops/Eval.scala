package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ExactRatio.exactRatio

/** Model-evaluation metrics over scored/labeled data — the measurement leg
  * of a training-data pipeline (did the embedding space, filter model, or
  * ranking actually get better?). Everything is exact integer arithmetic so
  * the numbers are engine-reproducible: scores are pre-quantized integers,
  * counts are BIGINT, and every presented ratio goes through
  * [[graft.functions.ExactRatio]] — no double is ever rounded.
  *
  * Reference scope note: the reference pipeline (IceNetETL) computes no
  * model metrics; this module is part of the mandated beyond-reference
  * training-data surface.
  */
object Eval {

  /** Thresholded binary confusion report: for each threshold t, the
    * tp/fp/fn/tn census of `score >= t` predicting `label == 1`, with
    * accuracy, precision, recall, and F1 presented as exact half-up
    * 6-dp ratios (null when the denominator is empty — e.g. precision at
    * a threshold above every score).
    *
    * `scoreCol` must be integer-valued (quantize upstream — e.g.
    * `CAST(embedding[0] * 1e4 AS BIGINT)`), `labelCol` 0/1.
    *
    * Plan: ONE scan — all |thresholds| x 4 cells are conditional sums in a
    * single whole-stage-codegen'd scalar aggregate; the per-threshold rows
    * are exploded from the one result row. No join, no second pass, state
    * O(|thresholds|) — the shape that is identical at 100 TB.
    */
  def confusionReport(
      scored: DataFrame, scoreCol: String, labelCol: String,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "confusionReport: no thresholds")
    require(thresholds.distinct.size == thresholds.size,
      s"confusionReport: duplicate thresholds in ${thresholds.mkString(",")}")
    val s = col(scoreCol).cast("long")
    val y = col(labelCol).cast("long")
    val cells = thresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(
        sum(when(s >= t && y === 1L, 1L).otherwise(0L)).as(s"tp_$i"),
        sum(when(s >= t && y === 0L, 1L).otherwise(0L)).as(s"fp_$i"),
        sum(when(s < t && y === 1L, 1L).otherwise(0L)).as(s"fn_$i"),
        sum(when(s < t && y === 0L, 1L).otherwise(0L)).as(s"tn_$i"))
    }
    val one = scored.agg(cells.head, cells.tail: _*)
    val rows = thresholds.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"), col(s"tp_$i").as("tp"),
        col(s"fp_$i").as("fp"), col(s"fn_$i").as("fn"),
        col(s"tn_$i").as("tn"))
    }
    val n = col("tp") + col("fp") + col("fn") + col("tn")
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.threshold").as("threshold"), col("r.tp").as("tp"),
        col("r.fp").as("fp"), col("r.fn").as("fn"), col("r.tn").as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(n > 0L, exactRatio(col("tp") + col("tn"), n, 6))
          .as("accuracy"),
        when(col("tp") + col("fp") > 0L,
          exactRatio(col("tp"), col("tp") + col("fp"), 6)).as("prec"),
        when(col("tp") + col("fn") > 0L,
          exactRatio(col("tp"), col("tp") + col("fn"), 6)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0L,
          exactRatio(lit(2L) * col("tp"),
            lit(2L) * col("tp") + col("fp") + col("fn"), 6)).as("f1"))
      .orderBy("threshold")
  }

  /** Exact AUC of an integer-quantized score against a 0/1 label, via the
    * midrank Mann-Whitney U statistic — ties get the standard half credit,
    * and the whole computation stays in BIGINT:
    *
    *   2*midrank(s) = 2*|{scores < s}| + n(s) + 1
    *   2U           = sum over positives of 2*midrank  -  P*(P+1)
    *   AUC          = 2U / (2*P*N)          (ExactRatio half-up at 6 dp)
    *
    * Requires both classes present (den > 0) and n <= ~2e6 rows for the
    * 6-dp presentation to stay inside BIGINT (4e6*P*N <= 2^63); past that,
    * stratify and average per stratum.
    *
    * Plan: one grouped aggregate collapses the data to O(distinct scores)
    * — bounded by the quantization (<= 2e4+1 values for a 1e4-quantized
    * unit-range score), NOT by data size — then one ordered window over
    * that bounded table (single partition by design: the win is that the
    * rank pass runs on the quantized domain, never on rows) and a scalar
    * aggregate. The 100 TB shape: the only data-sized stage is the first
    * map-side-combined groupBy.
    */
  def aucQuantized(
      scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val g = scored.groupBy(col(scoreCol).cast("long").as("s"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("np"))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = g.withColumn("cum_lt", coalesce(sum(col("n")).over(w), lit(0L)))
    r.agg(
      sum(col("np") * (lit(2L) * col("cum_lt") + col("n") + lit(1L)))
        .as("s2"),
      sum(col("np")).as("n_pos"),
      sum(col("n") - col("np")).as("n_neg"),
      count(lit(1)).as("n_scores"))
      .select(col("n_pos"), col("n_neg"), col("n_scores"),
        exactRatio(col("s2") - col("n_pos") * (col("n_pos") + lit(1L)),
          lit(2L) * col("n_pos") * col("n_neg"), 6).as("auc"))
  }

  /** Per-class mean reciprocal rank of the first SAME-LABEL neighbor in
    * each query's brute-force cosine top-`k` — the standard "does my
    * embedding space retrieve its own class?" eval. Exact: with k <= 10
    * every reciprocal rank is an integer over LCM(1..10) = 2520, so the
    * MRR numerator is a BIGINT sum (a query with no same-label hit
    * contributes 0) and the presented MRR is an ExactRatio.
    *
    * Plan: the ranking is [[Similarity.bruteForceTopK]] (bounded query-set
    * broadcast, corpus scanned once); both label attachments broadcast the
    * O(queries x k) pair table against the corpus-sized label side — the
    * corpus is never shuffled (the knnClassify pattern). Swap in
    * [[Similarity.ivfTopK]] at corpus scale; the metric tail is
    * scorer-agnostic.
    */
  def mrrSameLabel(
      embeddings: DataFrame, k: Int = 10, queryMod: Int = 50): DataFrame = {
    require(k >= 1 && k <= 10,
      s"mrrSameLabel: k=$k outside 1..10 — reciprocal ranks are exact " +
        "over LCM(1..10)=2520; larger k needs a larger scale constant")
    val labels = embeddings.select(col("vec_id"), col("label"))
    val topk = Similarity.bruteForceTopK(embeddings, k, queryMod)
      .select("query_id", "neighbor_id", "rnk")
    val withNbr = labels
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumnRenamed("label", "n_label")
      .join(graft.operators.Broadcasting.checked(topk), Seq("neighbor_id"))
      .select("query_id", "rnk", "n_label")
    val firstRel = labels
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("label", "q_label")
      .join(graft.operators.Broadcasting.checked(withNbr), Seq("query_id"))
      .groupBy("query_id", "q_label")
      .agg(min(when(col("n_label") === col("q_label"), col("rnk")))
        .as("first_rel"))
    firstRel.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("first_rel").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(coalesce(expr("CAST(2520 AS BIGINT) div first_rel"), lit(0L)))
          .as("rr2520"))
      .select(col("label"), col("n_queries"), col("n_hit"),
        exactRatio(col("rr2520"), lit(2520L) * col("n_queries"), 6).as("mrr"))
      .orderBy("label")
  }

  /** e6 integer weights 1/log2(i+1), i = 1..10 — computed ONCE here and
    * embedded verbatim in both the plan and the oracle SQL, so no
    * cross-engine logarithm is ever evaluated (the aucQuantized
    * discipline applied to ranking gain).
    */
  val ndcgWeightsE6: Seq[Long] =
    (1 to 10).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** NDCG@k of brute-force cosine retrieval under the same-label
    * relevance protocol ([[mrrSameLabel]]'s): binary gain, discount
    * 1/log2(rank+1) QUANTIZED to the e6 integer weight table, so
    * per-query DCG and ideal DCG are BIGINT sums — order-independent,
    * hash-exact — and the per-label report is the micro-average
    * ΣDCG/ΣIDCG in exact fixed point. IDCG@k truncates the ideal gain at
    * min(R, k) where R = corpus same-label count minus the query itself.
    *
    * Scale: rides [[Similarity.bruteForceTopK]]'s guarded-broadcast
    * scoring (the certification baseline); everything after the top-k is
    * O(queries × k) → O(labels).
    */
  def ndcgSameLabel(
      embeddings: DataFrame, k: Int = 10, queryMod: Int = 50): DataFrame = {
    require(k >= 1 && k <= 10,
      s"ndcgSameLabel: k=$k outside 1..10 — the e6 weight table stops at " +
        "rank 10; extend ndcgWeightsE6 for larger cutoffs")
    val w = ndcgWeightsE6.take(k)
    val wArr = array(w.map(lit): _*)              // element_at(_, rnk)
    val pArr = array(w.scanLeft(0L)(_ + _).tail.map(lit): _*) // prefix sums
    val labels = embeddings.select(col("vec_id"), col("label"))
    val labelSizes = labels.groupBy("label").agg(count(lit(1)).as("n_label_total"))
    val topk = Similarity.bruteForceTopK(embeddings, k, queryMod)
      .select("query_id", "neighbor_id", "rnk")
    val withNbr = labels
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumnRenamed("label", "n_label")
      .join(graft.operators.Broadcasting.checked(topk), Seq("neighbor_id"))
    val dcg = labels
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("label", "q_label")
      .join(graft.operators.Broadcasting.checked(withNbr), Seq("query_id"))
      .groupBy("query_id", "q_label")
      .agg(sum(when(col("n_label") === col("q_label"),
        element_at(wArr, col("rnk").cast("int"))).otherwise(0L)).as("dcg_e6"))
    dcg
      .join(labelSizes.withColumnRenamed("label", "q_label"), "q_label")
      .withColumn("r_total", col("n_label_total") - lit(1L))
      .withColumn("idcg_e6",
        when(col("r_total") >= 1L,
          element_at(pArr, least(col("r_total"), lit(k.toLong)).cast("int")))
          .otherwise(0L))
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum("dcg_e6").as("sum_dcg_e6"),
        sum("idcg_e6").as("sum_idcg_e6"))
      .select(col("label"), col("n_queries"), col("sum_dcg_e6"),
        col("sum_idcg_e6"),
        // a label whose every query is its only member has IDCG 0 —
        // NDCG undefined, surfaced as NULL (integer div-by-zero is null
        // in Spark but an ERROR in DuckDB, so both sides guard)
        when(col("sum_idcg_e6") > 0L,
          exactRatio(col("sum_dcg_e6"), col("sum_idcg_e6"), 6))
          .otherwise(lit(null).cast("double")).as("ndcg_micro"))
      .orderBy("label")
  }

  /** Single-pass feature screening: the tie-aware (midrank) AUC of every
    * candidate feature against one binary label, computed per feature in
    * ONE scan — the "which raw columns carry signal?" triage a feature
    * platform runs before any model sees the data.
    *
    * `features` maps an output name to an integer-quantized score column
    * (the [[aucQuantized]] contract: exact BIGINT rank sums need integer
    * score groups; quantize explicitly, e.g. cents). The unpivot is an
    * in-stage array explode — features × rows flows into ONE exchange
    * partitioned by (feature, score), then the per-feature window and
    * aggregate ride a feature-keyed exchange. Adding a feature adds no
    * scan, only fan-out volume.
    */
  def featureAuc(
      df: DataFrame, features: Seq[(String, Column)],
      labelCol: Column): DataFrame = {
    require(features.nonEmpty, "featureAuc: no features given")
    val stacked = df.select(
      explode(array(features.map { case (n, c) =>
        struct(lit(n).as("feature"), c.cast("long").as("s"))
      }: _*)).as("fs"), labelCol.cast("long").as("y"))
      .select(col("fs.feature").as("feature"), col("fs.s").as("s"), col("y"))
    val g = stacked.groupBy("feature", "s")
      .agg(count(lit(1)).as("n"), sum("y").as("np"))
    // Distributed prefix sum (r14, guide §2.5; the r13 verdict's task 4).
    // The cumulative-count window partitioned by `feature` alone ran on
    // |features| partitions — AQE coalesced it to ONE task carrying ~2.6 s
    // of the query's 4 s wall at sf0.1 (StageProf: two 1-task window
    // stages over ~450 k near-unique price groups), and the shape is
    // inherently serial per feature at any scale. Split the score domain
    // into deterministic, order-preserving buckets b = s >> 12 (arithmetic
    // shift = floor division, monotone in s for negatives too):
    //   cum_lt(s) = Σ n over buckets b' < b  +  Σ n within b over s' < s.
    // The within-bucket window runs at full width over (feature, b) — a
    // Spread-pinned exchange, since the shuffle is bytes-small but each
    // row carries window sort/accumulate work — and the bucket offsets are
    // an O(features × buckets) rollup whose own window is trivially small.
    // Every term is the same BIGINT sum in a different grouping: exact
    // identity, not an approximation (oracle-certified sf0.01 + sf0.1).
    val gb = g.withColumn("b", shiftright(col("s"), 12))
    val wLocal = Window.partitionBy("feature", "b").orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = Spread.byKey(gb, col("feature"), col("b"))
      .withColumn("cum_local", coalesce(sum(col("n")).over(wLocal), lit(0L)))
    val wBuckets = Window.partitionBy("feature").orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = gb.groupBy("feature", "b").agg(sum(col("n")).as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(wBuckets), lit(0L)))
      .select(col("feature").as("feature_o"), col("b").as("b_o"), col("off"))
    val r = local.join(broadcast(offsets),
        col("feature") === col("feature_o") && col("b") === col("b_o"))
      .withColumn("cum_lt", col("cum_local") + col("off"))
    r.groupBy("feature").agg(
      sum(col("np") * (lit(2L) * col("cum_lt") + col("n") + lit(1L)))
        .as("s2"),
      sum(col("np")).as("n_pos"),
      sum(col("n") - col("np")).as("n_neg"),
      count(lit(1)).as("n_scores"))
      .select(col("feature"), col("n_pos"), col("n_neg"), col("n_scores"),
        // ONE double division of exact BIGINTs, not exactRatio: the e6
        // fixed-point rendering multiplies the rank-sum numerator
        // (O(n_pos·n)) by 2e6 and overflows BIGINT already at ~10M rows;
        // the direct division is identical IEEE on both engines and
        // holds to any scale
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          (col("s2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
          .otherwise(lit(null).cast("double")).as("auc"))
      .orderBy("feature")
  }

  // ---- annotation & calibration quality (r10 family) ----------------------

  /** Reliability diagram of an integer-quantized probability (e4 units,
    * 0..10000) against a 0/1 label: per equal-width bin, the count, the
    * mean predicted probability and the observed positive rate — the
    * standard "is my filter model's confidence honest?" table read before
    * using scores as curation weights. A well-calibrated bin has
    * mean_pred ≈ obs_rate; the gap pattern (over/under-confidence) decides
    * whether scores need temperature scaling before thresholding.
    *
    * Exact: bin assignment is integer `div` (the top bin absorbs
    * p = 10000), sums are BIGINT, both presented rates are [[exactRatio]].
    *
    * Plan: ONE scan collapsing to `bins` rows via a map-side-combined
    * groupBy — the only data-sized stage; identical at 100 TB.
    */
  def calibrationBins(
      scored: DataFrame, probCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000,
      s"calibrationBins: bins=$bins outside 2..1000")
    val p = col(probCol).cast("long")
    val y = col(labelCol).cast("long")
    scored
      .select(least(expr(s"CAST($probCol AS BIGINT) * $bins div 10000"),
        lit(bins - 1L)).as("bin"), p.as("p"), y.as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("p").as("sum_p"),
        sum("y").as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        exactRatio(col("sum_p"), col("n") * lit(10000L), 6).as("mean_pred"),
        exactRatio(col("n_pos"), col("n"), 6).as("obs_rate"))
      .orderBy("bin")
  }

  /** Expected calibration error over the same binning as
    * [[calibrationBins]]: ECE = Σ_b (n_b/N)·|mean_pred_b − obs_rate_b|.
    * The weighted gap telescopes to EXACT integers —
    * n_b·|gap_b| = |Σp_b − 10⁴·pos_b| / 10⁴ — so the numerator
    * Σ_b |Σp_b − 10⁴·pos_b| is one BIGINT and ECE presents as ONE
    * double division over N·10⁴ (identical IEEE both engines). The
    * one-number companion of the per-bin diagram: alarm on this,
    * inspect that.
    *
    * Plan: the same one-scan O(bins) aggregate plus an O(bins) fold.
    */
  def calibrationError(
      scored: DataFrame, probCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000,
      s"calibrationError: bins=$bins outside 2..1000")
    val p = col(probCol).cast("long")
    val y = col(labelCol).cast("long")
    scored
      .select(least(expr(s"CAST($probCol AS BIGINT) * $bins div 10000"),
        lit(bins - 1L)).as("bin"), p.as("p"), y.as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("p").as("sum_p"),
        sum("y").as("n_pos"))
      .agg(sum("n").as("n"), count(lit(1)).as("n_bins"),
        sum(abs(col("sum_p") - lit(10000L) * col("n_pos"))).as("ece_num"))
      .select(col("n"), col("n_bins"), col("ece_num"),
        when(col("n") > 0L, col("ece_num").cast("double") /
          (col("n") * lit(10000L)).cast("double")).as("ece"))
  }

  /** Brier score of the same quantized probability: mean (p − y)² — the
    * proper scoring rule that punishes BOTH miscalibration and lack of
    * resolution (AUC alone can't see the former). One row:
    * `(n, brier_num, brier)` where brier_num = Σ (p_e4 − y·10⁴)² is the
    * exact BIGINT numerator and brier = num / (n·10⁸) presents as ONE
    * double division of exact BIGINTs (the e6 fixed-point rendering would
    * overflow BIGINT near ~1M rows; the direct division is identical IEEE
    * on both engines at any scale).
    *
    * Numeric budget (r12 sweep): brier_num ≤ n·10⁸ — BIGINT holds to
    * n ≈ 9.2×10¹⁰ SCORED rows. A calibration eval set that size is
    * implausible (the corpus is 100 TB; its eval slice is not), so this
    * stays BIGINT by the modularity convention: documented, not silent —
    * ANSI mode fails the sum loudly past the budget.
    *
    * Plan: one scalar aggregate over one scan.
    */
  def brierScore(
      scored: DataFrame, probCol: String, labelCol: String): DataFrame = {
    val p = col(probCol).cast("long")
    val y = col(labelCol).cast("long")
    val d = p - y * lit(10000L)
    scored.agg(count(lit(1)).as("n"), sum(d * d).as("brier_num"))
      .select(col("n"), col("brier_num"),
        when(col("n") > 0L, col("brier_num").cast("double") /
          (col("n") * lit(100000000L)).cast("double")).as("brier"))
  }

  /** Cohen's kappa between two binary raters — inter-annotator agreement
    * corrected for chance, THE gate statistic before trusting a labeled
    * split (raw agreement alone is inflated whenever one class
    * dominates). One row: the 2×2 cell census, observed agreement p_o
    * (exact ratio), and kappa = (n·(n11+n00) − Σ row·col) /
    * (n² − Σ row·col) — numerator and denominator exact BIGINT, presented
    * as ONE double division (kappa may be negative, which the fixed-point
    * `div` rendering would expose to truncation-convention skew; the
    * direct division needs no convention and is engine-identical).
    *
    * Plan: one scalar aggregate over one scan (four conditional sums).
    */
  def cohensKappa(
      rated: DataFrame, raterA: String, raterB: String): DataFrame = {
    val a = col(raterA).cast("long")
    val b = col(raterB).cast("long")
    val cells = rated.agg(
      sum(when(a === 1L && b === 1L, 1L).otherwise(0L)).as("n11"),
      sum(when(a === 1L && b === 0L, 1L).otherwise(0L)).as("n10"),
      sum(when(a === 0L && b === 1L, 1L).otherwise(0L)).as("n01"),
      sum(when(a === 0L && b === 0L, 1L).otherwise(0L)).as("n00"))
    val n = col("n11") + col("n10") + col("n01") + col("n00")
    val chance = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n00") + col("n01")) * (col("n00") + col("n10"))
    cells.select(col("n11"), col("n10"), col("n01"), col("n00"),
      n.as("n"),
      exactRatio(col("n11") + col("n00"), n, 6).as("p_o"),
      when(n * n - chance =!= 0L,
        (n * (col("n11") + col("n00")) - chance).cast("double") /
          (n * n - chance).cast("double")).as("kappa"))
  }

  /** Majority vote over a long-form annotation table `(item, annotator,
    * label)` with the PINNED tie rule most-votes-then-smallest-label (the
    * LPA discipline — async/arbitrary tie-breaks make reruns disagree),
    * reduced to the per-vote census: how many items each label wins, how
    * many of those were unanimous, and the unanimity share — the
    * label-quality profile read before weighting a crowd-labeled split.
    *
    * Plan: one (item, label) count aggregate, one per-item argmax window
    * (partitions bounded by an item's distinct labels, never global),
    * one O(items) histogram aggregate. The only data-sized stage is the
    * first map-side-combined groupBy.
    */
  def majorityVote(
      annotations: DataFrame, itemCol: String, labelCol: String): DataFrame =
    votedItems(annotations, itemCol, labelCol)
      .groupBy(col("label").as("vote"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("votes") === col("total"), 1L).otherwise(0L))
          .as("n_unanimous"))
      .select(col("vote"), col("n_items"), col("n_unanimous"),
        exactRatio(col("n_unanimous"), col("n_items"), 6)
          .as("unanimity_share"))
      .orderBy("vote")

  /** Per-item winning label under the pinned tie rule — the shared core
    * of [[majorityVote]] and [[annotatorAccuracy]]: `(item, label, votes,
    * total)`, one row per item.
    */
  private def votedItems(
      annotations: DataFrame, itemCol: String, labelCol: String): DataFrame = {
    val perLabel = annotations
      .groupBy(col(itemCol).as("item"), col(labelCol).cast("long").as("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("item")
      .orderBy(col("votes").desc, col("label").asc)
    perLabel
      .withColumn("total",
        sum("votes").over(Window.partitionBy("item")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  /** Per-annotator accuracy against the majority vote: for each
    * annotator, how often their label matched the consensus label — the
    * rater-quality screen run before weighting or dropping crowd
    * labelers (a labeler far below the pack is noise; one at chance is
    * adversarial). Exact ratios; ties resolved by [[majorityVote]]'s
    * pinned rule so "the consensus" is engine-reproducible.
    *
    * Plan: the voted-items table (O(items)) joins the annotation table
    * once on item — a keyed equi-join whose big side is the data and
    * whose probe side is one row per item; then one O(annotators)
    * aggregate.
    */
  def annotatorAccuracy(
      annotations: DataFrame, itemCol: String, annotatorCol: String,
      labelCol: String): DataFrame = {
    val voted = votedItems(annotations, itemCol, labelCol)
      .select(col("item"), col("label").as("consensus"))
    annotations
      .select(col(itemCol).as("item"),
        col(annotatorCol).cast("long").as("annotator"),
        col(labelCol).cast("long").as("label"))
      .join(voted, "item")
      .groupBy("annotator")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("label") === col("consensus"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("annotator"), col("n_items"), col("n_agree"),
        exactRatio(col("n_agree"), col("n_items"), 6).as("accuracy"))
      .orderBy("annotator")
  }

  /** pass@k over a per-trial table `(problem, correct)` — the standard
    * code-eval / sampled-generation metric (Chen et al. 2021's unbiased
    * estimator): pass@k = 1 − C(n−c, k)/C(n, k), computed per problem as
    * the exact falling-factorial ratio
    *
    *   fail_num = Π_{i=0}^{k−1} max(n−c−i, 0),  den = Π_{i=0}^{k−1} (n−i)
    *
    * (the max-0 clamp makes C(n−c,k)=0 — i.e. pass@k = 1 — exact when
    * fewer than k trials failed). Problems with n < k are dropped (the
    * estimator is undefined there). Output one row per problem:
    * `(problem, n, c, pass_at_k)`.
    *
    * Exactness: each falling-factorial term is cast to DECIMAL(6,0)
    * before multiplying, so the k ≤ 5 products stay within DECIMAL(34,0)
    * — EXACT (no Spark decimal precision-loss rounding, which starts past
    * 38 digits), where BIGINT would overflow at n ≈ 340 once the
    * fixed-point ratio scaling multiplies in (the sf1 lesson: 2,375
    * trials/problem blew the e6 rendering). pass@k presents as ONE
    * correctly-rounded double division of the two exact decimals — the
    * [[brierScore]]/[[cohensKappa]] convention, identical IEEE in every
    * engine. Bound: n ≤ 999,999 trials per problem; past it the
    * DECIMAL(6,0) cast fails loudly under ANSI rather than rounding.
    *
    * Plan: ONE map-side-combined groupBy over one scan, then O(problems)
    * projection — no join, no window. Identical shape at 100 TB.
    */
  def passAtK(
      trials: DataFrame, problemCol: String, correctCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 5,
      s"passAtK: k=$k out of the supported 1..5 (k terms of 6 digits " +
        "each must stay inside DECIMAL(38) exactly)")
    val per = trials
      .groupBy(col(problemCol).as("problem"))
      .agg(count(lit(1)).as("n"), sum(col(correctCol).cast("long")).as("c"))
      .filter(col("n") >= k)
    def term(c: Column) = c.cast("decimal(6,0)")
    val failNum = (0 until k)
      .map(i => term(greatest(col("n") - col("c") - lit(i.toLong), lit(0L))))
      .reduce(_ * _)
    val den = (0 until k)
      .map(i => term(col("n") - lit(i.toLong)))
      .reduce(_ * _)
    per.select(col("problem"), col("n"), col("c"),
        ((den - failNum).cast("double") / den.cast("double"))
          .as("pass_at_k"))
      .orderBy("problem")
  }

  /** Krippendorff's alpha (nominal data, fixed panel size `m`) over a
    * long-form annotation table `(item, label)` — the reliability
    * coefficient that generalizes kappa past two raters. Items whose
    * rating count differs from `m` are dropped (malformed panels), so the
    * per-item pairable-ratings divisor (m−1) is constant and the whole
    * statistic stays rational in BIGINT counts:
    *
    *   Do ∝ Σ_i (m² − Σ_c n_ic²)   (disagreeing ordered pairs per item)
    *   De ∝ n² − Σ_c n_c²          (chance disagreement, n = m·items)
    *   alpha = 1 − Do/De scaled to one division:
    *     alpha_num = (m−1)·(n² − Σ n_c²) − (n−1)·Σ(m² − Σ n_ic²)
    *     alpha_den = (m−1)·(n² − Σ n_c²)
    *
    * presented as ONE double division (alpha can be negative — same
    * convention as [[cohensKappa]]; a fixed-point `div` would expose
    * truncation-direction skew). Overflow bound: alpha_den < 2n², safe
    * to n ≈ 2.1e9 ratings.
    *
    * Plan: one (item, label) count aggregate (the only data-sized
    * stage), one O(items) and one O(labels) re-aggregate, combined via
    * two broadcast 1-row joins — the j4 scalar-subquery shape.
    */
  def krippendorffAlpha(
      annotations: DataFrame, itemCol: String, labelCol: String,
      m: Int): DataFrame = {
    require(m >= 2, s"krippendorffAlpha: panel size m=$m needs >= 2")
    val cell = annotations
      .groupBy(col(itemCol).as("item"), col(labelCol).cast("long").as("label"))
      .agg(count(lit(1)).as("nic"))
    val perItem = cell.groupBy("item")
      .agg(sum("nic").as("mi"), sum(col("nic") * col("nic")).as("sq"))
      .filter(col("mi") === m.toLong)
    val doAgg = perItem.agg(
      count(lit(1)).as("n_items"),
      sum(lit(m.toLong * m) - col("sq")).as("do_num"))
    // label totals over the SAME filtered panel set (a dropped item must
    // leave De too, or Do and De disagree about the rating universe)
    val deAgg = cell
      .join(perItem.select("item"), "item")
      .groupBy("label").agg(sum("nic").as("nc"))
      .agg(sum(col("nc") * col("nc")).as("sum_nc_sq"))
    doAgg.crossJoin(broadcast(deAgg)).select(
      col("n_items"),
      (col("n_items") * m.toLong).as("n_ratings"),
      col("do_num"),
      {
        val n = col("n_items") * lit(m.toLong)
        val deNum = lit((m - 1).toLong) * (n * n - col("sum_nc_sq"))
        deNum.as("de_num")
      })
      .select(col("n_items"), col("n_ratings"), col("do_num"), col("de_num"),
        when(col("de_num") =!= 0L,
          (col("de_num") - (col("n_ratings") - 1L) * col("do_num"))
            .cast("double") / col("de_num").cast("double")).as("alpha"))
  }

  /** Precision–recall curve over every distinct quantized score
    * threshold: for threshold t (descending), the census of `score >= t`
    * — cumulative predictions and hits, precision and recall as exact
    * ratios (columns `prec_e6`/`rec_e6`: `precision` is a reserved type
    * keyword in ANSI SQL engines, so the portable spelling avoids it).
    * `scoreCol` must be integer-valued (quantize upstream); output is
    * one row per DISTINCT score.
    *
    * Plan: one map-side-combined groupBy collapses the data to the
    * O(distinct scores ≤ quantization range) table; the running sums are
    * a single-partition window CONFINED to that bounded aggregated
    * domain (the [[aucQuantized]] discipline — never a window over raw
    * rows), plus one unbounded-frame total for the recall denominator on
    * the same table.
    */
  def prCurve(
      scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val agg = scored
      .groupBy(col(scoreCol).cast("long").as("score"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("pos"))
    val run = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    agg.select(col("score"),
        sum("n").over(run).as("cum_n"),
        sum("pos").over(run).as("cum_pos"),
        sum("pos").over(all).as("total_pos"))
      .select(col("score"), col("cum_n"), col("cum_pos"),
        exactRatio(col("cum_pos"), col("cum_n"), 6).as("prec_e6"),
        when(col("total_pos") > 0L,
          exactRatio(col("cum_pos"), col("total_pos"), 6)).as("rec_e6"))
      .orderBy(col("score").desc)
  }

  /** (ref, cand) token-prefix pairs for the generation-eval metrics:
    * even `doc_id` is the reference, `doc_id + 1` its candidate (fixture
    * wiring — a real run feeds genuine generation pairs). Tokens are the
    * whitespace split capped at `prefixTokens` (40 keeps the bit-parallel
    * LCS single-word AND bounds the oracle's recursive-CTE depth; the
    * dedup_edit_distance 40-char prefix precedent).
    *
    * Plan: ONE shuffle — both sides of each pair collapse in a single
    * groupBy on `doc_id >> 1` (conditional-first aggregation) instead of
    * the two-exchange self-join; each pair is one row from there on.
    */
  private def generationPairs(
      docs: DataFrame, prefixTokens: Int): DataFrame =
    docs
      .select(shiftright(col("doc_id"), 1).as("pid"),
        (col("doc_id") % 2).as("side"),
        slice(split(trim(col("text")), "\\s+"), 1, prefixTokens).as("toks"))
      .groupBy("pid")
      .agg(
        first(when(col("side") === 0, col("toks")), ignoreNulls = true)
          .as("rt"),
        first(when(col("side") === 1, col("toks")), ignoreNulls = true)
          .as("ct"))
      .filter(col("rt").isNotNull && col("ct").isNotNull)
      // widen BEFORE the per-pair CPU (LCS bit rows, n-gram fan-outs):
      // the pair table is BYTES-small, so AQE's coalescing sizes the
      // reduce side to a handful of tasks — but everything downstream is
      // per-row CPU-heavy, and bytes are the wrong proxy. An explicit
      // numbered round-robin repartition is never AQE-coalesced
      // (REPARTITION_BY_NUM origin), costs one tiny exchange, and hands
      // the fan-out the full task width. Measured (chrF, same shape):
      // sf1 wall 10.3 s -> 3.8 s.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)

  /** ROUGE-L per generation pair: LCS length over the 40-token prefixes
    * via [[graft.functions.TokenLcs]] (bit-parallel, codegen'd), with the
    * β=1 F-measure in closed integer form — ROUGE-L F1 = 2·LCS/(|r|+|c|),
    * so the presented score is an [[ExactRatio]], float-free end to end.
    * The oracle replays the SAME Allison–Dix bit row as a recursive CTE.
    */
  def rougeL(docs: DataFrame, prefixTokens: Int = 40): DataFrame =
    generationPairs(docs, prefixTokens)
      .select((col("pid") * 2).as("ref_id"), (col("pid") * 2 + 1).as("cand_id"),
        graft.functions.TokenLcs.tokenLcs(col("rt"), col("ct"))
          .cast("long").as("lcs_len"),
        size(col("rt")).cast("long").as("ref_len"),
        size(col("ct")).cast("long").as("cand_len"))
      .withColumn("rouge_l_f1",
        exactRatio(col("lcs_len") * 2L, col("ref_len") + col("cand_len"), 6))

  /** Word error rate per generation pair — the ASR/generation metric the
    * suite lacked: token-level Levenshtein distance over the reference,
    * WER = dist/|ref| as an [[ExactRatio]] (can exceed 1 when the
    * candidate is longer — the standard convention).
    *
    * Token-level edit distance rides both engines' CHARACTER
    * `levenshtein`: the pair's sorted-distinct vocabulary (≤ 2·prefix =
    * 80 entries, a per-ROW array — no global dictionary, so nothing
    * scales with corpus vocabulary) maps each token to one codepoint
    * (chr(64 + position)), and the mapped strings' character distance IS
    * the token distance. Everything after [[generationPairs]]' single
    * shuffle is per-row codegen'd expressions.
    */
  def wer(docs: DataFrame, prefixTokens: Int = 40): DataFrame = {
    def asChars(toks: Column, vocab: Column): Column =
      array_join(transform(toks,
        t => chr(array_position(vocab, t) + lit(64L))), "")
    generationPairs(docs, prefixTokens)
      .withColumn("vocab",
        array_sort(array_distinct(concat(col("rt"), col("ct")))))
      .select((col("pid") * 2).as("ref_id"), (col("pid") * 2 + 1).as("cand_id"),
        levenshtein(asChars(col("rt"), col("vocab")),
          asChars(col("ct"), col("vocab"))).cast("long").as("edit_dist"),
        size(col("rt")).cast("long").as("ref_len"),
        size(col("ct")).cast("long").as("cand_len"))
      .withColumn("wer", exactRatio(col("edit_dist"), col("ref_len"), 6))
  }

  /** SQuAD-style token F1 per generation pair: bag-of-tokens overlap
    * `Σ_t min(count_cand(t), count_ref(t))`, precision over the candidate
    * length, recall over the reference length, F1 = 2·overlap/(|r|+|c|) —
    * every score an [[ExactRatio]], float-free end to end. The
    * order-insensitive counterpart of ROUGE-L/WER (a shuffled candidate
    * scores 1.0 here and low there), which is why extractive-QA evals
    * report it alongside exact match.
    *
    * Plan: join-free single lineage — tokens explode once into
    * (pair, token) rows carrying the side flag, ONE groupBy pivots both
    * sides' counts into (rcnt, ccnt) columns (map-side combined), and a
    * second groupBy folds overlap = Σ min(rcnt, ccnt) together with both
    * lengths (ref_len = Σ rcnt, cand_len = Σ ccnt) in the same pass. No
    * self-join of the gram table, no join back for lengths, the corpus
    * is scanned once; zero-overlap pairs emit naturally (their min terms
    * are all 0, lengths are not).
    */
  def tokenF1(docs: DataFrame, prefixTokens: Int = 40): DataFrame =
    generationPairs(docs, prefixTokens)
      .select(col("pid"), explode(array(
        struct(lit(0).as("side"), col("rt").as("toks")),
        struct(lit(1).as("side"), col("ct").as("toks")))).as("s"))
      .select(col("pid"), col("s.side").as("side"),
        explode(col("s.toks")).as("g"))
      .groupBy("pid", "g")
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("rcnt"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("ccnt"))
      .groupBy("pid")
      .agg(sum(least(col("rcnt"), col("ccnt"))).as("overlap"),
        sum(col("rcnt")).as("ref_len"),
        sum(col("ccnt")).as("cand_len"))
      .select((col("pid") * 2).as("ref_id"), (col("pid") * 2 + 1).as("cand_id"),
        col("overlap"), col("ref_len"), col("cand_len"))
      .withColumn("prec", exactRatio(col("overlap"), col("cand_len"), 6))
      .withColumn("rec", exactRatio(col("overlap"), col("ref_len"), 6))
      .withColumn("token_f1",
        exactRatio(col("overlap") * 2L, col("ref_len") + col("cand_len"), 6))

  /** GLEU per generation pair (Wu et al. 2016, the sentence-level BLEU
    * surrogate Google's NMT work introduced): pool ALL 1- and 2-grams of
    * both sides, overlap = Σ min(candidate, reference) counts over the
    * pooled grams, and GLEU = min(precision, recall) — which collapses
    * to ONE exact ratio, overlap / max(cand_grams, ref_grams), since
    * both share the overlap numerator. Symmetric-ish and
    * length-punishing where bleu_clip's precision pair is not.
    *
    * Plan: the [[tokenF1]] join-free shape over the [[bleuClipped]]
    * gram fan-out — one (pid, n, gram) pivot groupBy with conditional
    * counts, one per-pair fold; corpus scanned once.
    */
  def gleu(docs: DataFrame, prefixTokens: Int = 40): DataFrame =
    generationPairs(docs, prefixTokens)
      .select(col("pid"), explode(array(
        struct(lit(0).as("side"), col("rt").as("toks")),
        struct(lit(1).as("side"), col("ct").as("toks")))).as("s"))
      .select(col("pid"), col("s.side").as("side"), explode(concat(
        transform(col("s.toks"), t => struct(lit(1).as("n"), t.as("g"))),
        transform(expr(
          "slice(s.toks, 1, greatest(size(s.toks) - 1, 0))"),
          (t, i) => struct(lit(2).as("n"),
            concat_ws(" ", t, element_at(col("s.toks"), i + 2)).as("g")))))
        .as("gr"))
      .groupBy(col("pid"), col("gr.n").as("n"), col("gr.g").as("g"))
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("rcnt"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("ccnt"))
      .groupBy("pid")
      .agg(sum(least(col("rcnt"), col("ccnt"))).as("overlap"),
        sum(col("rcnt")).as("ref_grams"),
        sum(col("ccnt")).as("cand_grams"))
      .select((col("pid") * 2).as("ref_id"), (col("pid") * 2 + 1).as("cand_id"),
        col("overlap"), col("ref_grams"), col("cand_grams"))
      .withColumn("gleu", exactRatio(col("overlap"),
        greatest(col("ref_grams"), col("cand_grams")), 6))

  /** Clipped n-gram precision per generation pair (the BLEU-n building
    * block, Papineni 2002): for n = 1, 2 the numerator clips each
    * candidate n-gram's count at its reference count; the geometric mean
    * and brevity penalty need transcendentals, so the published metric is
    * the exact pair (pN_num, pN_den) plus each precision as an ExactRatio
    * — downstream can fold them into any BLEU variant.
    *
    * Plan: tokens explode once into a (pair, side, n, gram) count table
    * (map-side combined); clipping is a pair-local LEFT join of candidate
    * counts against reference counts on (pid, n, gram) — co-partitioned
    * by the groupBy that built both sides, never a cross product.
    */
  def bleuClipped(docs: DataFrame, prefixTokens: Int = 40): DataFrame = {
    val grams = generationPairs(docs, prefixTokens)
      .select(col("pid"), explode(array(
        struct(lit(0).as("side"), col("rt").as("toks")),
        struct(lit(1).as("side"), col("ct").as("toks")))).as("s"))
      .select(col("pid"), col("s.side").as("side"), explode(concat(
        transform(col("s.toks"), t => struct(lit(1).as("n"), t.as("g"))),
        transform(expr(
          "slice(s.toks, 1, greatest(size(s.toks) - 1, 0))"),
          (t, i) => struct(lit(2).as("n"),
            concat_ws(" ", t, element_at(col("s.toks"), i + 2)).as("g")))))
        .as("gr"))
      .groupBy(col("pid"), col("side"), col("gr.n").as("n"),
        col("gr.g").as("g"))
      .agg(count(lit(1)).as("cnt"))
    val ref = grams.filter(col("side") === 0)
      .select(col("pid"), col("n"), col("g"), col("cnt").as("rcnt"))
    val cand = grams.filter(col("side") === 1)
      .select(col("pid"), col("n"), col("g"), col("cnt").as("ccnt"))
    cand.join(ref, Seq("pid", "n", "g"), "left")
      .groupBy("pid", "n")
      .agg(sum(least(col("ccnt"), coalesce(col("rcnt"), lit(0L))))
          .as("num"),
        sum(col("ccnt")).as("den"))
      .groupBy("pid")
      .agg(
        sum(when(col("n") === 1, col("num"))).as("p1_num"),
        sum(when(col("n") === 1, col("den"))).as("p1_den"),
        coalesce(sum(when(col("n") === 2, col("num"))), lit(0L))
          .as("p2_num"),
        coalesce(sum(when(col("n") === 2, col("den"))), lit(0L))
          .as("p2_den"))
      .select((col("pid") * 2).as("ref_id"), (col("pid") * 2 + 1).as("cand_id"),
        col("p1_num"), col("p1_den"), col("p2_num"), col("p2_den"),
        exactRatio(col("p1_num"), col("p1_den"), 6).as("p1"),
        when(col("p2_den") > 0L, exactRatio(col("p2_num"), col("p2_den"), 6))
          .as("p2"))
  }

  /** chrF per generation pair (Popović 2015, β = 2): character n-gram
    * F-score over whitespace-stripped `prefixChars`-char prefixes,
    * n = 1..`maxN` — the third standard generation metric next to
    * [[rougeL]] and [[bleuClipped]], and the one that survives
    * tokenizer mismatch (it never tokenizes).
    *
    * Float-free: with clipped match count m, candidate total p_den and
    * reference total r_den, chrF2 = (1+β²)PR / (β²P + R) collapses to
    * the single exact rational 5m / (4·r_den + p_den), presented via
    * [[exactRatio]]; P and R ship as exact ratios too. One row per
    * (pair, n); rows exist only where BOTH sides have ≥ 1 n-gram (the
    * inner-join convention [[rougeL]] uses for incomplete pairs).
    *
    * Plan: one groupBy collapses both sides of each pair
    * (conditional-first — the [[generationPairs]] single-shuffle trick),
    * n-grams explode IN-STAGE (two chained explodes, no join), counts
    * map-side combine on (pid, side, n, gram), and clipping is the
    * pair-local left join of candidate counts against reference counts —
    * co-partitioned by the groupBy that built both sides.
    */
  def chrF(docs: DataFrame, maxN: Int = 3, prefixChars: Int = 80): DataFrame = {
    val pairs = docs
      .select(shiftright(col("doc_id"), 1).as("pid"),
        (col("doc_id") % 2).as("side"),
        substring(regexp_replace(col("text"), "\\s+", ""), 1, prefixChars)
          .as("cs"))
      .groupBy("pid")
      .agg(
        first(when(col("side") === 0, col("cs")), ignoreNulls = true).as("rs"),
        first(when(col("side") === 1, col("cs")), ignoreNulls = true).as("ks"))
      .filter(col("rs").isNotNull && col("ks").isNotNull)
      // same bytes-vs-CPU widening as [[generationPairs]]: the ~480-row
      // char-gram fan-out per pair runs on this shuffle's reduce side
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
    val grams = pairs
      .select(col("pid"), explode(array(
        struct(lit(0).as("side"), col("rs").as("s")),
        struct(lit(1).as("side"), col("ks").as("s")))).as("x"))
      .select(col("pid"), col("x.side").as("side"), col("x.s").as("s"),
        explode(sequence(lit(1), lit(maxN))).as("n"))
      .filter(length(col("s")) >= col("n"))
      // explode INDEXES then one codegen'd substr — NOT a higher-order
      // transform building a per-row string array: HOFs run interpreted
      // (lambda binding per element), and this stage's shuffle input is
      // bytes-small while its row fan-out is the whole metric's CPU, so
      // AQE under-provisions it (measured: the interpreted spelling ran
      // 12 s at sf1 on coalesced partitions; this one is in-stage
      // codegen all the way to the census shuffle)
      .select(col("pid"), col("side"), col("n"),
        explode(sequence(lit(1), length(col("s")) - col("n") + 1)).as("i"),
        col("s"))
      .select(col("pid"), col("side"), col("n"),
        col("s").substr(col("i"), col("n")).as("g"))
      .groupBy("pid", "side", "n", "g").agg(count(lit(1)).as("cnt"))
    val cand = grams.filter(col("side") === 1).drop("side")
    val ref = grams.filter(col("side") === 0).drop("side")
      .withColumnRenamed("cnt", "rcnt")
    val rden = ref.groupBy("pid", "n").agg(sum("rcnt").as("r_den"))
    cand.join(ref, Seq("pid", "n", "g"), "left")
      .groupBy("pid", "n")
      .agg(sum(least(col("cnt"), coalesce(col("rcnt"), lit(0L))))
          .as("clip_m"),
        sum(col("cnt")).as("p_den"))
      .join(rden, Seq("pid", "n"))
      .select((col("pid") * 2).as("ref_id"), (col("pid") * 2 + 1).as("cand_id"),
        col("n"), col("clip_m"), col("p_den"), col("r_den"),
        exactRatio(col("clip_m"), col("p_den"), 6).as("p_e6"),
        exactRatio(col("clip_m"), col("r_den"), 6).as("r_e6"),
        exactRatio(col("clip_m") * 5L, col("r_den") * 4L + col("p_den"), 6)
          .as("chrf2_e6"))
  }

  /** Distinct-n diversity census per language (Li 2016): distinct vs
    * total n-grams (n = 1, 2) over the whole corpus slice — the standard
    * mode-collapse detector for generated corpora (a low distinct-2 says
    * the generator loops the same phrases). One explode + one
    * groupBy(lang, n): count is map-side combined; the distinct count
    * shuffles (lang, n, gram) once — the same shape at any corpus size.
    */
  def distinctNgrams(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        split(trim(col("text")), "\\s+").as("toks"))
      .select(col("lang"), explode(concat(
        transform(col("toks"), t => struct(lit(1).as("n"), t.as("g"))),
        transform(expr("slice(toks, 1, greatest(size(toks) - 1, 0))"),
          (t, i) => struct(lit(2).as("n"),
            concat_ws(" ", t, element_at(col("toks"), i + 2)).as("g")))))
        .as("gr"))
      .groupBy(col("lang"), col("gr.n").as("n"))
      .agg(countDistinct(col("gr.g")).as("distinct_grams"),
        count(lit(1)).as("total_grams"))
      .withColumn("distinct_ratio",
        exactRatio(col("distinct_grams"), col("total_grams"), 6))
}
