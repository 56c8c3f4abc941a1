package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ExactRatio.exactRatio

/** Item-based collaborative filtering over the co-purchase relation —
  * the recommendation stage a training-data platform feeds after
  * [[Association]] mines the raw co-occurrence statistics.
  *
  * The reference has no recommendation surface (its single pipeline is
  * forecast ingest, `azfunctions/InputBlobTrigger/processor.py:20-451`);
  * this is beyond-reference training-data analytics: item-item neighbor
  * lists and user top-N are the canonical weak-supervision signal for
  * ranking corpora (and the classic Amazon/Sarwar item-CF shape).
  *
  * All similarity scores are carried as e6 FIXED POINT (BIGINT): the
  * cosine itself is floor((pair·10⁶)/sqrt(cnt_a·cnt_b)) — floor of a
  * division of identical doubles is engine-exact (IEEE sqrt and divide
  * are correctly rounded), and once in integer space the downstream
  * SUMS are order-independent, so the distributed aggregation
  * hash-matches DuckDB bit-for-bit. Summing raw double cosines would
  * not (aggregation-order ulps) — the incr_agg_merge lesson.
  */
object Recommend {

  /** Item-item cosine similarity from basket co-occurrence: for each
    * co-purchased pair, cos = n(a,b)/sqrt(n(a)·n(b)) in e6 fixed point,
    * top `topK` by cosine. Bounded-fan-out pair generation per
    * [[Association.basketPairs]]: the self-join keys on the BASKET, the
    * mega-basket guard caps the quadratic term, and both sides reuse one
    * exchange (merge hints → ReuseExchange).
    */
  def itemCosine(
      lineitem: DataFrame, topK: Int = 20,
      maxBasketSize: Int = 1000): DataFrame =
    scoredPairs(lineitem, maxBasketSize)
      .orderBy(col("cos_e6").desc, col("part_a").asc, col("part_b").asc)
      .limit(topK)

  /** (part_a, part_b, pair_cnt, cos_e6) for every co-purchased pair,
    * part_a < part_b. */
  private def scoredPairs(
      lineitem: DataFrame, maxBasketSize: Int): DataFrame = {
    val items = lineitem
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val sized = items
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("basket")))
      .filter(col("bsz") <= maxBasketSize)
      .drop("bsz")
    val pairs = sized.hint("merge").as("a")
      .join(sized.hint("merge").as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("part_a"), col("b.item").as("part_b"))
      .agg(count(lit(1)).as("pair_cnt"))
    val supp = sized.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    pairs
      .join(supp.select(col("item").as("part_a"), col("cnt").as("cnt_a")),
        "part_a")
      .join(supp.select(col("item").as("part_b"), col("cnt").as("cnt_b")),
        "part_b")
      // numeric budget (r12 sweep): pair_cnt·10⁶ needs pair_cnt ≤
      // 9.2×10¹², and cnt_a·cnt_b needs each support ≤ 3×10⁹ — both are
      // per-ITEM-PAIR counts, orders of magnitude under any corpus's
      // per-pair co-occurrence. Documented, not silent (ANSI fails the
      // multiply loudly past the budget); widening would also have to
      // reorder the oracle's double conversion, a cross-engine hazard
      // for products past 2^53.
      .select(col("part_a"), col("part_b"), col("pair_cnt"),
        floor(col("pair_cnt") * lit(1000000L) /
          sqrt((col("cnt_a") * col("cnt_b")).cast("double"))).as("cos_e6"))
  }

  /** User top-N recommendations by truncated item-neighbor expansion:
    * each history item contributes its top-`neighborsPerItem` cosine
    * neighbors, contributions SUM per (user, candidate) in integer
    * space, already-owned items are anti-joined out, and row_number
    * keeps the top `topN` per user.
    *
    * Scale: the neighbor CAP is the 100 TB move — production item-CF
    * never materializes full similarity rows per user; it expands
    * |history|·M candidates, M fixed, so the score join's fan-out is
    * linear in the history relation. The cap itself is one row_number
    * window riding the item exchange; scoring keys on item
    * (co-partitioned with the capped list), the ownership anti-join and
    * the final ranking both key on user — three exchanges total, no
    * broadcast of anything data-sized.
    */
  def recommendItems(
      lineitem: DataFrame, orders: DataFrame, topN: Int = 3,
      neighborsPerItem: Int = 10, maxBasketSize: Int = 1000): DataFrame = {
    val scored = scoredPairs(lineitem, maxBasketSize)
    val sym = scored
      .select(col("part_a").as("item"), col("part_b").as("nbr"), col("cos_e6"))
      .unionByName(scored
        .select(col("part_b").as("item"), col("part_a").as("nbr"),
          col("cos_e6")))
    val capped = sym
      .withColumn("nrank", row_number().over(
        Window.partitionBy("item").orderBy(col("cos_e6").desc,
          col("nbr").asc)))
      .filter(col("nrank") <= neighborsPerItem)
      .drop("nrank")
    val hist = orders
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey").as("cust"))
      .join(lineitem.select(col("l_orderkey"), col("l_partkey").as("item")),
        "l_orderkey")
      .select("cust", "item")
      .distinct()
    val fresh = hist.join(capped, "item")
      .select(col("cust"), col("nbr").as("rec_part"), col("cos_e6"))
      .join(hist.select(col("cust"), col("item").as("rec_part")),
        Seq("cust", "rec_part"), "left_anti")
    fresh.groupBy("cust", "rec_part")
      .agg(sum("cos_e6").as("score_e6"), count(lit(1)).as("n_contrib"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cust").orderBy(col("score_e6").desc,
          col("rec_part").asc)).cast("long"))
      .filter(col("rn") <= topN)
      .orderBy(col("cust").asc, col("rn").asc)
  }

  /** The recommendation table as a BUILD-ONCE MATERIALIZED ARTIFACT,
    * memoized per (session, input key, params). A production recommender
    * materializes its batch-inference table and serves EVERY consumer —
    * user-facing top-N and the health audit alike — from that artifact;
    * recomputing the |history|×M candidate expansion per consumer is the
    * anti-pattern (the two consumers here were the suite's two heaviest
    * sf1 entries, ~59 s combined, sharing ~90% of their plan). The
    * materialization is a `localCheckpoint` of [[recommendItems]]'s
    * OUTPUT — O(users × topN) rows, tiny relative to the chain that
    * builds it — so the memo's storage cost is negligible and its hit
    * turns the audit into pure O(output) aggregation (the persisted-
    * snapshot analog is [[Similarity.buildIvfIndex]]; an in-session memo
    * is the right weight here because the artifact is output-, not
    * corpus-, sized).
    *
    * A [[Memo]] entry of the `rec` family, keyed by (session, inputKey,
    * topN, neighborsPerItem) under its staleness contract: `inputKey` is
    * the caller's table directory.
    */
  def recommendationsFor(
      inputKey: String, lineitem: => DataFrame, orders: => DataFrame,
      topN: Int = 3, neighborsPerItem: Int = 10): DataFrame = {
    val li = lineitem
    Memo(li.sparkSession, "rec", (inputKey, topN, neighborsPerItem))(own =>
      own(recommendItems(li, orders, topN, neighborsPerItem).localCheckpoint()))
  }

  /** Coverage/diversity audit of [[recommendItems]]'s output — the
    * recommender-health numbers a production system alarms on: what
    * share of the catalog ever gets recommended (low coverage = popular-
    * item feedback loop) and how concentrated exposure is (max single
    * item share of all recommendation slots).
    *
    * One O(users·topN) aggregate over the recommendation table + one
    * O(catalog) distinct; exact fixed-point ratios.
    */
  def coverageAudit(
      lineitem: DataFrame, orders: DataFrame, topN: Int = 3,
      neighborsPerItem: Int = 10): DataFrame =
    coverageAuditOf(
      recommendItems(lineitem, orders, topN, neighborsPerItem)
        .localCheckpoint(), // two aggregates below fan out from it
      lineitem)

  /** [[coverageAudit]] over an already-materialized recommendation table
    * (see [[recommendationsFor]]) — the audit is then O(recs) + one
    * O(catalog) distinct, never a chain rebuild.
    */
  def coverageAuditOf(recs: DataFrame, lineitem: DataFrame): DataFrame = {
    val slots = recs.agg(count(lit(1)).as("n_slots"),
      count_distinct(col("rec_part")).as("n_rec_parts"))
    val topShare = recs.groupBy("rec_part").agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("max_exposure"))
    val catalog = lineitem.agg(
      count_distinct(col("l_partkey")).as("n_catalog_parts"))
    slots.crossJoin(broadcast(topShare)).crossJoin(broadcast(catalog))
      .select(col("n_slots"), col("n_rec_parts"), col("n_catalog_parts"),
        col("max_exposure"),
        exactRatio(col("n_rec_parts"), col("n_catalog_parts"), 6)
          .as("catalog_coverage"),
        exactRatio(col("max_exposure"), col("n_slots"), 6)
          .as("max_exposure_share"))
  }

  /** Koren-style bias baseline predictor (the model every factorization
    * recommender subtracts first): global mean μ, then per-user offsets
    * b_u = mean(r − μ), then per-item offsets b_i = mean(r − μ − b_u) —
    * read out per item. Ratings are lineitem quantities keyed by
    * (customer, part) through orders.
    *
    * Exactness: everything runs in e6 FIXED POINT with half-up integral
    * division, and the chained means stay cross-engine because each step
    * rounds to an INTEGER e6 value before feeding the next (the oracle
    * replays the identical integer formulas). Negative deviations would
    * make half-up division engine-dependent (floor vs truncate), so each
    * biased mean adds the constant C = 2×10⁸ e6 (≥ any possible
    * |deviation|: ratings ≤ 5×10⁷ e6) to keep every numerator
    * non-negative, then subtracts C back — truncation == floor on
    * non-negatives in both engines. Internals are DECIMAL(38,0) (the
    * ExactRatio convention), so the only budget is presentation-side.
    *
    * Plan: one fact join (orders broadcast-eligible at fixture scale,
    * plain equi at 100 TB), one global 1-row broadcast, then two keyed
    * aggregates (user, then item) — each a map-side-combined groupBy;
    * nothing pairwise, nothing iterative.
    */
  def biasModel(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val C = 200000000L
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // half-up integral (num/den) for non-negative num, positive den
    def halfup(num: Column, den: Column): Column =
      ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          ColumnBridge.expression(dec(num) * dec(lit(2L)) + dec(den)),
          ColumnBridge.expression(dec(den) * dec(lit(2L)))))
    // Three passes over the fact join, each a cheap LONG hash aggregate
    // (global mean → user offsets → item offsets; each step needs the
    // previous step's constant, so the chain is irreducible). An earlier
    // cut pre-aggregated to per-(user,item) DECIMAL partials behind a
    // localCheckpoint — measured 3-10× SLOWER at sf1: the pairs are
    // mostly unique, so the 6M-group decimal hash-agg bought nothing and
    // the materialization thrashed. Budgets for the LONG sums (ANSI
    // fails loudly past them): per-user Σq6 ≤ n_u·5×10⁷ overflows only
    // past ~1.8×10¹¹ ratings per user; per-item Σ(dev+C) ≤ n_i·3×10⁸
    // only past ~3×10¹⁰ ratings per item. Only the GLOBAL Σq6 can
    // realistically overflow (6×10¹² rows × 5×10⁷), and that one sum
    // runs in DECIMAL(38,0) — a single group, cost-free.
    val r = lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        lineitem("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
        (col("l_quantity").cast("long") * 1000000L).as("q6"))
    val mu = broadcast(r
      .agg(sum(dec(col("q6"))).as("s"), count(lit(1)).as("n"))
      .select(halfup(col("s"), col("n")).as("mu6")))
    val ub = r.groupBy("u")
      .agg(sum(col("q6")).as("sq"), count(lit(1)).as("nu"))
      .crossJoin(mu)
      .select(col("u"),
        (halfup(dec(col("sq")) + dec(col("nu")) * dec(lit(C) - col("mu6")),
          col("nu")) - C).as("bu6"))
    r.join(ub, Seq("u")).crossJoin(mu)
      .groupBy("i")
      .agg(count(lit(1)).as("n_ratings"),
        sum(col("q6") - col("mu6") - col("bu6") + lit(C)).as("sd"),
        max(col("mu6")).as("mu6"))
      .select(col("i").as("item"), col("n_ratings"),
        (col("mu6").cast("double") / 1e6).as("mu"),
        ((halfup(col("sd"), col("n_ratings")) - C).cast("double") / 1e6)
          .as("item_bias"))
  }

  /** Per-USER read-out of the [[biasModel]] chain: the b_u table itself
    * (user, rating count, global mean, user bias) — the artifact a
    * serving layer joins at request time. Same integer formulas, same
    * budgets; one fact scan + one keyed aggregate.
    */
  def biasModelUsers(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val C = 200000000L
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def halfup(num: Column, den: Column): Column =
      ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          ColumnBridge.expression(dec(num) * dec(lit(2L)) + dec(den)),
          ColumnBridge.expression(dec(den) * dec(lit(2L)))))
    val r = lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        lineitem("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"),
        (col("l_quantity").cast("long") * 1000000L).as("q6"))
    val mu = broadcast(r
      .agg(sum(dec(col("q6"))).as("s"), count(lit(1)).as("n"))
      .select(halfup(col("s"), col("n")).as("mu6")))
    r.groupBy("u")
      .agg(sum(col("q6")).as("sq"), count(lit(1)).as("nu"))
      .crossJoin(mu)
      .select(col("u").as("user"), col("nu").as("n_ratings"),
        (col("mu6").cast("double") / 1e6).as("mu"),
        ((halfup(dec(col("sq")) + dec(col("nu")) * dec(lit(C) - col("mu6")),
          col("nu")) - C).cast("double") / 1e6).as("user_bias"))
  }
}
