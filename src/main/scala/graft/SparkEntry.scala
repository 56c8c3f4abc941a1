package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.icenet.{Geometry, Ingest}

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent oracle in [[SparkEntry.oracleSql]].
  *
  * Conventions (driver hash-compares after sorting columns by name):
  *  - every computed column is aliased identically in the Spark plan and in
  *    the oracle SQL;
  *  - Spark/DuckDB type mismatches are normalized in the ORACLE (e.g.
  *    `CAST(... AS BIGINT)` for row_number, `trunc()` before int casts
  *    because DuckDB rounds double->int while Spark truncates);
  *  - queries read through [[Tables]] so pushdown reaches the parquet scan.
  */
object SparkEntry {

  /** Flagship (SURVEY §7.2 M1): the reference's latest-forecast materialized
    * view (J4+A3+J2+A4+W1, processor.py:416-436) re-expressed over the
    * fixtures — facts=orders, dim=customer, "generation date"=o_orderdate.
    */
  def entry(spark: SparkSession): DataFrame =
    latestView(spark, "/root/testdata/sf0.001")

  /** The view body BEFORE the surrogate id — exposed so PlanGuardSpec can
    * assert the broadcast shapes, which the id step's RDD boundary
    * (GlobalRowNumber's zipWithIndex) would otherwise hide from the final
    * plan.
    */
  private[graft] def latestViewBody(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).withColumn("d", to_date(col("o_orderdate")))
    val c = Tables.customer(s, dir)
    // scalar-subquery max (A3/J4) as a broadcast single-row join: no
    // driver-side action, one plan, no shuffle on the fact side.
    val maxd = o.agg(max(col("d")).as("maxd"))
    o.join(broadcast(maxd), col("d") === col("maxd"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("o_totalprice"))
      .distinct() // A4: GROUP-BY-all dedup
  }

  private def latestView(s: SparkSession, dir: String): DataFrame =
    // W1: deterministic surrogate id over the natural key, via the
    // scale-safe range-partitioned numbering (same ids as a global window;
    // no single-partition sort even when the "one date" is grid-sized).
    graft.operators.GlobalRowNumber.withGlobalRowNumber(
      latestViewBody(s, dir), "forecast_id", Seq(col("o_orderkey")))

  /** Every named query, by name; built once, since callers look names up
    * per query.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- flagship --------------------------------------------------------
    "latest_view" -> ((s, dir) => latestView(s, dir)),

    // ---- P: projections / filters / scalar expressions -------------------
    "p1_rename_shim" -> { (s, dir) =>
      // conditional legacy rename (processor.py:126-133) exercised on a
      // projected lineitem: l_quantity -> quantity only when present.
      val df = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      if (df.columns.contains("l_quantity"))
        df.withColumnRenamed("l_quantity", "quantity") else df
    },
    "p2_filter" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 25)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),
    "p3_null_drop" -> ((s, dir) =>
      Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "props")
        .na.drop("any")),
    "p4_flatten" -> ((s, dir) =>
      // wide-to-long flatten (processor.py:158-160) as posexplode
      Tables.part(s, dir).select(
        col("p_partkey"),
        posexplode(split(col("p_type"), " ")).as(Seq("pos", "word")))),
    "p5_unit_scale" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") * 1000).cast("int").as("qty_milli"))),
    "p6_date_arith" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"))),
    "p7_projection" -> ((s, dir) =>
      Tables.lineitem(s, dir).select("l_orderkey", "l_partkey", "l_shipdate")),
    "p8_date_trunc" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("ship_date"))),
    "p9_classify" -> ((s, dir) =>
      // hemisphere-detection shape (processor.py:137-150): threshold rules
      // with a keyword fallback, as a single codegen'd CASE expression.
      Tables.customer(s, dir).select(
        col("c_custkey"),
        when(col("c_acctbal") > 8000, "north")
          .when(col("c_acctbal") < -800, "south")
          .otherwise(when(col("c_mktsegment") === "BUILDING", "north")
            .otherwise("south")).as("hemisphere"))),
    "p10_first_distinct" -> ((s, dir) =>
      Tables.orders(s, dir).select(col("o_orderpriority").as("priority")).distinct()),
    "f6_zorder_key" -> ((s, dir) =>
      // native codegen'd Morton key over two bucketed dims - the layout
      // key behind 2-D file pruning (TableOps.compact sortCols); 15-bit
      // inputs keep the oracle's per-bit reconstruction in BIGINT range
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.functions.ZOrderKey.key(
          pmod(col("l_partkey"), lit(32768)).cast("long"),
          pmod(col("l_suppkey"), lit(32768)).cast("long")).as("zkey"))),
    "p13_unpivot" -> ((s, dir) =>
      // wide-to-long melt (inverse of p12): stack is a narrow generator,
      // no shuffle, 3 metric rows per input row at scan speed
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        expr("stack(3, 'l_quantity', l_quantity, 'l_discount', l_discount, " +
          "'l_tax', l_tax) AS (metric, value)"))),
    "p12_pivot" -> ((s, dir) =>
      // long-to-wide pivot (inverse of P4's flatten): per-returnflag row,
      // one sum column per linestatus. Fixed pivot values keep the plan a
      // single hash aggregate (no distinct-values pre-pass) and make the
      // schema static - the scale-safe way to pivot.
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 4))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")),

    // ---- J: joins --------------------------------------------------------
    "j1_left_join_2key" -> { (s, dir) =>
      // forecasts |x cells on a 2-column key (processor.py:314-321); the dim
      // side is small -> broadcast, no shuffle of the fact side. The dim
      // here is DERIVED FROM THE FACT TABLE (fixture wiring), so the
      // broadcast goes through the checked helper: proven-small sides
      // broadcast, oversized ones degrade to a shuffle join instead of
      // OOMing the driver at 100x scale.
      val li = Tables.lineitem(s, dir)
      val dim = li.groupBy("l_partkey", "l_suppkey")
        .agg(count(lit(1)).as("ps_count"))
      li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .join(graft.operators.Broadcasting.checked(dim),
          Seq("l_partkey", "l_suppkey"), "left")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "ps_count")
    },
    "j2_inner_join" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice")
    },
    "j3_cross_join" -> ((s, dir) =>
      Tables.region(s, dir).select("r_name")
        .crossJoin(Tables.nation(s, dir).select("n_name"))),
    "j4_scalar_subquery" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val maxd = o.agg(max(col("o_orderdate")).as("maxd"))
      o.join(broadcast(maxd), col("o_orderdate") === col("maxd"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
    "j6_semi_join" -> { (s, dir) =>
      // EXISTS semi-join: customers with at least one high-value order.
      // left_semi never duplicates the left side and drops the right side's
      // columns - at scale the probe side streams, no row explosion.
      val c = Tables.customer(s, dir)
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },
    "j7_anti_join" -> { (s, dir) =>
      // NOT EXISTS anti-join: customers with no large order - the keyed
      // complement used by the first-write-wins write path. Anti-joins
      // against the FILTERED order set (every customer has some order on
      // the fixture, so the unfiltered complement is empty — a vacuous
      // oracle row; this predicate keeps the result non-empty).
      val c = Tables.customer(s, dir)
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_acctbal")
    },
    "j10_bucketed_join" -> { (s, dir) =>
      // co-located join: both sides written bucketed+sorted on the join
      // key, so the merge join needs NO exchange and no sort — the layout
      // investment that replaces a per-query shuffle of the fact table at
      // 100 TB. The hint pins SMJ (a broadcast would hide the demo);
      // PlanGuardSpec asserts the exchange-free shape.
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      // the in-memory catalog forgets tables between JVMs but the managed
      // location survives; clear both or saveAsTable fails LOCATION_EXISTS
      Seq("bkt_customer", "bkt_orders").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      }
      c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("bkt_customer")
      o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("bkt_orders")
      val bc = s.table("bkt_customer").hint("merge")
      val bo = s.table("bkt_orders")
      bc.join(bo, bc("c_custkey") === bo("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
    },
    "j9_bloom_semi" -> { (s, dir) =>
      // Bloom runtime filter ahead of an exact semi-join: the sketch of the
      // selective part subset rejects non-matching lineitem rows at scan
      // speed BELOW the join's exchange; the left_semi removes the sketch's
      // false positives, so the result is bit-identical to a plain semi-join
      // while the shuffle carries only plausible matches.
      val li = Tables.lineitem(s, dir)
      val dim = Tables.part(s, dir).filter(col("p_size") <= 5)
      operators.RuntimeFilter.bloomSemiJoin(li, "l_partkey", dim, "p_partkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
    },

    // ---- A: aggregations -------------------------------------------------
    "a1_minmax_range" -> ((s, dir) =>
      // mean_step_size (utils.py:47-48): (max-min)/(n-1)
      Tables.lineitem(s, dir).agg(
        ((max(col("l_extendedprice")) - min(col("l_extendedprice"))) /
          (count(lit(1)) - 1)).as("mean_step"))),
    "a2_grouped_agg" -> ((s, dir) =>
      // forecast_meta rollup shape (processor.py:385-394)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          to_date(min(col("l_shipdate"))).as("first_ship"),
          to_date(max(col("l_shipdate"))).as("last_ship"),
          count(lit(1)).as("n_records"))),
    "a3_global_max" -> ((s, dir) =>
      Tables.orders(s, dir).agg(max(to_date(col("o_orderdate"))).as("latest"))),
    "a4_dedup" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_returnflag"), col("l_linestatus"),
        to_date(col("l_shipdate")).as("d")).distinct()),

    // ---- W: window -------------------------------------------------------
    "w1_row_number" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(
          Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
          .cast("long").as("rn"))),
    "w5_global_row_number" -> ((s, dir) =>
      // dense global id over a data-sized table WITHOUT the single-partition
      // sort a bare `row_number() OVER (ORDER BY ...)` plans: range
      // partition + per-partition rank + broadcast offsets
      // (operators.GlobalRowNumber). Same ids as the global window.
      graft.operators.GlobalRowNumber.withGlobalRowNumber(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "row_id", Seq(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")))),

    // ---- F: scalar functions ---------------------------------------------
    "f1_wkt_polygon" -> ((s, dir) =>
      // F1 (processor.py:225-236): 5-point closed rectangle ring as WKT,
      // pure format_string — whole-stage-codegen friendly.
      Tables.nation(s, dir).select(
        col("n_nationkey"),
        Geometry.wktCellPolygon(
          (col("n_nationkey") * 1000).cast("long"),
          (col("n_regionkey") * 1000).cast("long"),
          lit(500L), lit(500L)).as("wkt"))),
    "f5_date_format" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))),

    // ---- S: upsert semantics as pure-DataFrame set ops -------------------
    "s5_first_write_wins" -> { (s, dir) =>
      // ON CONFLICT DO NOTHING (processor.py:249-257): existing rows win,
      // incoming-only keys appended via left-anti join.
      val o = Tables.orders(s, dir)
      val existing = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit("old").as("src"), col("o_totalprice"))
      val incoming = o
        .select(col("o_orderkey"), lit("new").as("src"), col("o_totalprice"))
      existing.unionByName(
        incoming.join(existing.select("o_orderkey"), Seq("o_orderkey"), "left_anti"))
    },
    "s6_last_write_wins" -> { (s, dir) =>
      // ON CONFLICT DO UPDATE (processor.py:375-403): incoming rows replace
      // matched keys, unmatched existing rows survive.
      val o = Tables.orders(s, dir)
      def rollup(status: String) =
        o.filter(col("o_orderstatus") === status)
          .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      val existing = rollup("F")
      val incoming = rollup("O")
      existing.join(incoming.select("o_custkey"), Seq("o_custkey"), "left_anti")
        .unionByName(incoming)
    },

    // ---- beyond-reference: text analysis (ops.TextAnalysis) --------------
    "text_token_count" -> ((s, dir) =>
      graft.ops.TextAnalysis.tokenCounts(Tables.documents(s, dir))),
    "text_quality" -> ((s, dir) =>
      graft.ops.TextAnalysis.quality(Tables.documents(s, dir))),
    "text_langid" -> ((s, dir) =>
      graft.ops.TextAnalysis.languages(Tables.documents(s, dir))),
    "text_readability" -> ((s, dir) =>
      // Flesch / Flesch-Kincaid from three engine-exact integer counts
      // (vowel-group syllable heuristic); stratifies the corpus for
      // curriculum ordering, orthogonal to the quality composite
      graft.ops.TextAnalysis.readability(Tables.documents(s, dir))),
    "curate_quality_prune" -> ((s, dir) =>
      // per-domain quantile pruning (the perplexity-filter shape): each
      // language's own p75 token-count threshold, broadcast back, census
      // of what survives - a global cutoff would over-prune low-scoring
      // domains wholesale
      graft.ops.TextAnalysis.qualityPrune(Tables.documents(s, dir))),
    "text_fingerprint" -> ((s, dir) =>
      graft.ops.TextAnalysis.fingerprints(Tables.documents(s, dir))),
    "text_hashing_embed" -> ((s, dir) =>
      graft.ops.TextAnalysis.hashingEmbed(Tables.documents(s, dir))),
    "vocab_topk" -> ((s, dir) =>
      graft.ops.TextAnalysis.vocabTopK(Tables.documents(s, dir))),
    "bpe_top_pairs" -> ((s, dir) =>
      // the unit step of BPE tokenizer training: weighted adjacent
      // character-pair counts over the symbolized vocabulary, top 20 -
      // each row is a candidate merge, the argmax is the next merge
      // (TextAnalysis.bpeMerges runs the full iterative loop; spec-pinned)
      graft.ops.TextAnalysis.bpePairCounts(
          graft.ops.TextAnalysis.bpeVocab(Tables.documents(s, dir)))
        .orderBy(col("weighted_count").desc, col("left").asc, col("right").asc)
        .limit(20)),
    "bpe_learn" -> ((s, dir) =>
      // the full iterative BPE training loop, oracle-certified: 3 greedy
      // merge rounds (argmax pair with the count-desc/left/right
      // tie-break, greedy left-to-right application to the symbolized
      // vocabulary, recount) — the tokenizer artifact itself
      graft.ops.TextAnalysis.bpeLearn(Tables.documents(s, dir))),
    "bpe_encode" -> ((s, dir) =>
      // the tokenizer APPLY path: encode the vocabulary with the learned
      // merges (training fold == encode fold, single-sourced); per-word
      // frequency, char length, encoded token count
      graft.ops.TextAnalysis.bpeEncode(Tables.documents(s, dir))),
    "bpe_encode_docs" -> ((s, dir) =>
      // document-level read-out of the tokenizer apply path: REAL BPE
      // tokens per doc (vs text_token_count's whitespace proxy) plus
      // word/char mass and the chars-per-token compression exact ratio
      graft.ops.TextAnalysis.bpeEncodeDocs(Tables.documents(s, dir))),
    "split_assign" -> ((s, dir) =>
      graft.ops.TextAnalysis.splitAssign(Tables.documents(s, dir))),
    "split_decontaminated" -> ((s, dir) =>
      // the shipped composition: md5 split assignment + quarantine of
      // held-out docs sharing >= 2 word 4-grams with TRAIN - an eval
      // split that leaks training text measures memorization
      graft.ops.TextAnalysis.decontaminatedSplits(Tables.documents(s, dir))),
    "corpus_novelty" -> ((s, dir) =>
      // phrase-level novelty curve: per doc (ingestion order), share of
      // its distinct 4-grams never seen in any earlier doc - a crawl
      // whose novelty collapses is re-crawling itself
      graft.ops.TextAnalysis.ngramNovelty(Tables.documents(s, dir))),
    "vocab_oov_rate" -> ((s, dir) =>
      // held-out OOV: token occurrences in val/test whose token never
      // appears in train - the coverage twin of split_decontaminated's
      // leakage audit
      graft.ops.TextAnalysis.oovRate(Tables.documents(s, dir))),
    "corpus_stats" -> ((s, dir) =>
      graft.ops.TextAnalysis.corpusStats(Tables.documents(s, dir))),
    "text_tfidf" -> ((s, dir) =>
      graft.ops.TextAnalysis.tfIdf(Tables.documents(s, dir))),
    "text_lm_score" -> ((s, dir) =>
      graft.ops.TextAnalysis.lmScore(Tables.documents(s, dir))),
    "text_entropy" -> ((s, dir) =>
      graft.ops.TextAnalysis.tokenEntropy(Tables.documents(s, dir))),
    "corpus_drift" -> ((s, dir) =>
      // release-over-release language drift, here between the even/odd
      // doc_id slices (deterministic stand-ins for two corpus versions)
      graft.ops.TextAnalysis.langDrift(Tables.documents(s, dir),
        col("doc_id") % 2 === 0, col("doc_id") % 2 === 1)),
    "sample_hash" -> ((s, dir) =>
      // reproducible 10% sample by key hash - the sampling primitive a
      // training pipeline needs (stable across runs/engines/cluster sizes,
      // unlike rand(); a pure narrow filter, pushable to the scan).
      Tables.documents(s, dir)
        .filter(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4),
          16, 10).cast("long"), lit(100)) < 10)
        .select("doc_id", "lang")),
    "curate_corpus" -> { (s, dir) =>
      // end-to-end corpus curation: keep each exact-dup cluster's canonical
      // doc, English-classified, above the quality threshold - the
      // composition every training-data pipeline runs.
      //
      // Shape: ONE scan, ONE projection computing (fp, lang_pred, quality)
      // per doc, then a window over fp picks the canonical (min doc_id) row
      // carrying its own lang/quality — no joins at all. The r2 formulation
      // joined three independent re-derivations of `documents` (exact +
      // languages + quality); predicate pushdown through those joins then
      // duplicated the interpreted higher-order-function trees (each with
      // split(text) inlined per reference), costing 115 s at sf0.1 where
      // the constituent queries run in 0.15 s each. Here the lang/quality
      // predicate CANNOT be pushed below the window (it references
      // non-partition columns), so every HOF tree is evaluated exactly once
      // per document. ONE shuffle total: the cheap fingerprint is computed
      // at scan time, the repartition hashes on it (spreading the heavy
      // tokenize/langid/quality work across tasks — compressed corpora scan
      // as few splits), and the window then REUSES that exchange (its
      // required fp-clustering is already satisfied), so the expensive
      // projection runs exactly once, post-shuffle, with no second exchange.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
        .transform(graft.ops.Spread.byKey(_, col("fp")))
      val t = graft.ops.TextAnalysis.tokens(col("text"))
      val scored = docs.select(
        col("doc_id"), col("fp"),
        graft.ops.TextAnalysis.langId(t).as("lang_pred"),
        graft.ops.TextAnalysis.qualityScore(t).as("quality"))
      scored
        .withColumn("rn",
          row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1 &&
          col("lang_pred") === "en" && col("quality") >= 0.5)
        .select("doc_id", "lang_pred", "quality")
    },

    // ---- beyond-reference: deduplication (ops.Dedup) ---------------------
    "dedup_exact" -> ((s, dir) =>
      graft.ops.Dedup.exact(Tables.documents(s, dir))),
    "dedup_incremental" -> { (s, dir) =>
      // ingest-time dedup: every 7th doc arrives as the incoming batch,
      // checked against the rest as the standing corpus (fixture wiring)
      val docs = Tables.documents(s, dir)
      graft.ops.Dedup.incremental(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
    },
    // The minhash/simhash/ngram family rides the build-once memoized
    // artifacts (r10 verdict task 7): tokenization, signatures, and all
    // three candidate-pair sets materialize once per corpus and every
    // query below reads the checkpointed bytes — row-identical to the
    // inline derivations (DedupSpec pins each seam)
    "dedup_minhash_lsh" -> ((s, dir) =>
      graft.ops.Dedup.dedupArtifactsFor(dir, Tables.documents(s, dir))
        .minhashPairs),
    "dedup_minhash_est" -> ((s, dir) =>
      graft.ops.Dedup.minhashEstOf(
        graft.ops.Dedup.dedupArtifactsFor(dir, Tables.documents(s, dir)).sigs)),
    "dedup_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhash(Tables.documents(s, dir))),
    "dedup_simhash_pairs" -> ((s, dir) =>
      graft.ops.Dedup.dedupArtifactsFor(dir, Tables.documents(s, dir))
        .simhashPairs),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      graft.ops.Dedup.dedupArtifactsFor(dir, Tables.documents(s, dir))
        .ngramPairs),
    "dedup_components" -> ((s, dir) =>
      // cluster the MinHash candidate pairs: transitive duplicate groups,
      // each labeled with its smallest member (memoized — dedup_keep_best
      // consumes the same clustering)
      graft.ops.Dedup.dedupArtifactsFor(dir, Tables.documents(s, dir))
        .components),
    "dedup_method_agreement" -> ((s, dir) =>
      // do MinHash, n-gram Jaccard, and SimHash find the SAME pairs?
      // pairwise set sizes, intersections, and pair-set Jaccard - the
      // meta-audit behind any cross-method recall claim. All three
      // candidate sets come from the shared artifacts, so only the
      // pair-set algebra runs per query
      graft.ops.Dedup.methodAgreementOf(
        graft.ops.Dedup.dedupArtifactsFor(dir, Tables.documents(s, dir)))),
    "events_pit_labels" -> ((s, dir) =>
      // point-in-time training set: integer features strictly BEFORE the
      // cutoff, churn label strictly from the 7-day window AFTER it -
      // the temporal wall that keeps leakage out of offline metrics
      graft.streaming.EventAggs.pointInTimeTrainingSet(
        Tables.events(s, dir))),
    "dedup_embedding" -> ((s, dir) =>
      graft.ops.Dedup.embeddingNearDups(Tables.embeddings(s, dir))),
    "dedup_embedding_lsh" -> ((s, dir) =>
      graft.ops.Dedup.embeddingLshPairs(Tables.embeddings(s, dir))),
    "embedding_outliers" -> ((s, dir) =>
      // zThresh 1.0 on the fixture: random synthetic embeddings have a
      // compact own-centroid cosine distribution (max z ~1.4 at sf0.01);
      // the operator's z=2 default is the real-corpus setting
      graft.ops.Similarity.centroidOutliers(Tables.embeddings(s, dir),
        zThresh = 1.0)),
    "decontaminate" -> { (s, dir) =>
      // train/eval overlap check: corpus docs sharing >= 2 distinct word
      // 4-grams with the benchmark split (every 20th doc, fixture wiring).
      // n = 4 on this small-vocabulary fixture: trigrams collide
      // incidentally (310/475 docs flagged = noise), 4-grams isolate the
      // genuinely duplicated docs; real corpora use the n = 5 default.
      val docs = Tables.documents(s, dir)
      graft.ops.Dedup.contamination(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), n = 4)
    },
    "dedup_span_fraction" -> ((s, dir) =>
      // substring-level duplication: fraction of each doc's token positions
      // covered by a 4-gram that occurs in another doc (n = 4 for the same
      // fixture-collision reason as decontaminate above)
      graft.ops.Dedup.spanDupFraction(Tables.documents(s, dir), n = 4)),
    "pack_sequences" -> ((s, dir) =>
      graft.ops.TextAnalysis.packSequences(Tables.documents(s, dir))),
    "prepare_training_set" -> { (s, dir) =>
      // the end-to-end corpus-prep flagship: ONE scan scoring each doc
      // (fingerprint, tokens, langid, quality), exact-dedup canonical via
      // the fp window (riding the fp repartition like curate_corpus),
      // language/quality gate, reproducible md5 split assignment, then
      // concat-and-chunk packing of the train split per shard. The shard
      // key (lang x doc_id mod 4) keeps the packing window parallel - the
      // production shape packSequences' scaladoc prescribes - while
      // staying engine-deterministic.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
        .transform(graft.ops.Spread.byKey(_, col("fp")))
      val t = graft.ops.TextAnalysis.tokens(col("text"))
      val scored = docs.select(
        col("doc_id"), col("fp"), size(t).as("n_tokens"),
        graft.ops.TextAnalysis.langId(t).as("lang_pred"),
        graft.ops.TextAnalysis.qualityScore(t).as("quality"))
      val curated = scored
        .withColumn("rn",
          row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rn") === 1 &&
          col("lang_pred") === "en" && col("quality") >= 0.5)
      val bucket = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("long"), lit(100))
      val train = curated.filter(bucket < 90)
        .withColumn("shard",
          concat(col("lang_pred"), lit("_"), pmod(col("doc_id"), lit(4))))
      val packW = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      train
        .withColumn("seq_id",
          floor(coalesce(sum(col("n_tokens")).over(packW), lit(0L)) / 512)
            .cast("long"))
        .select("doc_id", "shard", "n_tokens", "quality", "seq_id")
    },
    "sample_stratified" -> ((s, dir) =>
      graft.ops.TextAnalysis.stratifiedSample(Tables.documents(s, dir))),
    "sample_weighted" -> ((s, dir) =>
      graft.ops.TextAnalysis.sampleWeighted(Tables.documents(s, dir))),
    "mix_plan" -> ((s, dir) =>
      graft.ops.TextAnalysis.mixPlan(Tables.documents(s, dir),
        Seq("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.1))),
    "mix_apply" -> ((s, dir) =>
      // realize the plan: one broadcast-thresholded corpus scan, reduced
      // map-side to the per-source (planned rate, realized draw) audit
      graft.ops.TextAnalysis.mixApply(Tables.documents(s, dir),
        Seq("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.1))),
    "curate_epoch_plan" -> ((s, dir) =>
      // data-constrained scaling: epochs per source to hit the mixture
      // at a budget of half the corpus's token mass; epochs > 1 flags
      // upsampling (data repetition) explicitly
      graft.ops.TextAnalysis.epochPlan(Tables.documents(s, dir),
        Seq("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.1))),
    "length_buckets" -> ((s, dir) =>
      graft.ops.TextAnalysis.lengthBuckets(Tables.documents(s, dir))),
    "text_repetition" -> ((s, dir) =>
      graft.ops.TextAnalysis.repetition(Tables.documents(s, dir))),
    "text_pii_redact" -> ((s, dir) =>
      graft.ops.TextAnalysis.piiAudit(Tables.documents(s, dir))),

    // ---- beyond-reference: similarity search (ops.Similarity) ------------
    "sim_topk_brute" -> ((s, dir) =>
      graft.ops.Similarity.bruteForceTopK(Tables.embeddings(s, dir))),
    "sim_topk_mips" -> ((s, dir) =>
      // exact max-inner-product retrieval (unnormalized scores); the
      // norm-augmentation reduction makes the IVF family the scale path
      graft.ops.Similarity.mipsTopK(Tables.embeddings(s, dir))),
    "sim_topk_mips_ivf" -> ((s, dir) => {
      // the MIPS scale path realized: norm-augmented vectors make every
      // candidate norm exactly M, so cosine-IVF bucketing answers MIPS;
      // published scores are exact raw dots; C rides the CellLadder
      val emb = Tables.embeddings(s, dir)
      graft.ops.Similarity.mipsIvfTopK(emb,
        nCentroids = graft.ops.Similarity.adaptiveCellCount(emb.count()))
    }),
    "sim_topk_ivf" -> ((s, dir) =>
      graft.ops.Similarity.ivfTopK(Tables.embeddings(s, dir))),
    "sim_topk_ivf_adaptive" -> ((s, dir) =>
      // cell count grows with the corpus (C^2 >= n ladder): fixed C=16
      // makes scored pairs n^2/16 once queries scale with n — the sf10
      // rung measured it; this is the production IVF sizing
      graft.ops.Similarity.ivfTopKAdaptive(Tables.embeddings(s, dir))),
    "sim_topk_ivf_hier" -> ((s, dir) =>
      // two-level coarse quantizer: flat assignment is O(n*sqrt(n)) seed
      // dots even with the ladder (the sf10 rung's ~24 s floor); the
      // coarse->fine split cuts it to O(n * n^(1/4)) at the standard
      // hierarchical-ANN recall trade
      graft.ops.Similarity.ivfTopKHierarchical(Tables.embeddings(s, dir))),
    "sim_topk_ivf_persisted" -> { (s, dir) =>
      // build-once / query-many: the index (centroids + cell assignments)
      // is persisted as versioned snapshots, then queried without
      // re-assigning the corpus. Fresh temp root per invocation.
      val root = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
      val emb = Tables.embeddings(s, dir)
      graft.ops.Similarity.buildIvfIndex(emb, root)
      graft.ops.Similarity.ivfTopKFromIndex(emb, root)
    },
    "sim_topk_agg" -> ((s, dir) =>
      graft.ops.Similarity.bruteForceTopKAgg(Tables.embeddings(s, dir))),
    "sim_topk_ivf_mp" -> ((s, dir) =>
      graft.ops.Similarity.ivfTopKMultiProbe(Tables.embeddings(s, dir))),
    "sim_topk_ivf_kmeans" -> ((s, dir) =>
      graft.ops.Similarity.ivfTopKKmeans(Tables.embeddings(s, dir))),
    "sim_topk_sq8" -> ((s, dir) =>
      graft.ops.Similarity.sqTopK(Tables.embeddings(s, dir))),
    "sim_topk_pq" -> ((s, dir) =>
      graft.ops.Similarity.pqTopK(Tables.embeddings(s, dir))),
    "dedup_tfidf_pairs" -> ((s, dir) =>
      // exact TF-IDF sparse-cosine rescoring over the doc_id%5 candidate
      // pool (the stage AFTER LSH blocking — the shared-term join is
      // quadratic in df, so it runs on pools, never raw corpora): bigram
      // terms, idf quantized to integer millis so dots and norms are
      // BIGINT; the only doubles are the final sqrt/divide
      graft.ops.Dedup.tfidfCosinePairs(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0))),
    "dedup_prefix_filter" -> ((s, dir) =>
      // exact-recall near-dup pairs via PPJoin prefix filtering; the
      // oracle computes ground truth over ALL sharing pairs, so the hash
      // match certifies the prefix candidates missed nothing
      graft.ops.Dedup.prefixFilterPairs(Tables.documents(s, dir))),
    "sim_hard_negatives" -> ((s, dir) =>
      // contrastive-training negative mining: most-similar different-label
      // cell-mates per query (Similarity.hardNegatives)
      graft.ops.Similarity.hardNegatives(Tables.embeddings(s, dir))),
    "dedup_embedding_adaptive" -> ((s, dir) =>
      // cell count grows with the corpus (C^2 >= n): pair work ~n^1.5,
      // where dedup_embedding's fixed C=16 measured 10.2x at the sf1
      // stress run. Same metric, same threshold - only the blocking scales.
      graft.ops.Dedup.embeddingNearDupsAdaptive(Tables.embeddings(s, dir))),
    "sim_topk_ivfpq" -> ((s, dir) =>
      // IVF cell restriction x PQ code scoring: the compounding layout
      // (per-query work O(n*m/C)) - the sf1 stress run measured pqTopK's
      // exhaustive ADC at 13x its sf0.1 cost while the IVF family stayed
      // flat; this composite is the production answer to that curve.
      // C rides the CellLadder (C^2 >= n) since the sf10 rung measured
      // the fixed-16 composite at 53x for 10x data
      graft.ops.Similarity.ivfPqTopK(Tables.embeddings(s, dir))),
    "sim_topk_ivfpq_rerank" -> ((s, dir) =>
      // FAISS-style two-stage refine: the IVFPQ ADC shortlist (depth 25)
      // re-ranked by EXACT cosine — approximation error confined to the
      // shortlist cut, published scores exact, per-query cost
      // O(n*m/C + depth*dim) instead of the brute O(n*dim)
      graft.ops.Similarity.ivfPqRerankTopK(Tables.embeddings(s, dir))),
    "dedup_edit_distance" -> ((s, dir) =>
      // PassJoin segment signatures: exact-recall edit-distance pairs
      // over 40-char prefix keys; the oracle computes ALL pairs directly,
      // so the hash match certifies the segment join missed nothing
      graft.ops.Dedup.editDistancePairs(Tables.documents(s, dir))),
    "assoc_basket_pairs" -> ((s, dir) =>
      // market-basket co-occurrence: top-20 part pairs by support, with
      // lift; pair fan-out bounded per basket, ReuseExchange'd self-join
      graft.ops.Association.basketPairs(Tables.lineitem(s, dir))),
    "assoc_rules" -> ((s, dir) =>
      // directed association rules over the support>=2 pairs: exact
      // confidence pair/count(antecedent), the actionable direction the
      // symmetric lift census cannot give
      graft.ops.Association.rules(Tables.lineitem(s, dir))),
    "rec_item_cosine" -> ((s, dir) =>
      // item-item cosine from co-purchase in e6 FIXED POINT: floor over
      // a division of identical doubles is engine-exact, and integer
      // scores keep every downstream sum order-independent
      graft.ops.Recommend.itemCosine(Tables.lineitem(s, dir))),
    "rec_bias_model" -> ((s, dir) =>
      // Koren bias baseline (μ, b_u, b_i chained means) read out per
      // item — e6 fixed point, half-up integral division, +C offset so
      // every numerator is non-negative (floor == truncate both engines)
      graft.ops.Recommend.biasModel(
        Tables.lineitem(s, dir), Tables.orders(s, dir))),
    "rec_bias_users" -> ((s, dir) =>
      // the b_u table itself (the serving-layer artifact): per-user
      // rating count, global mean, user bias — same integer formulas
      graft.ops.Recommend.biasModelUsers(
        Tables.lineitem(s, dir), Tables.orders(s, dir))),
    "rec_user_topn" -> ((s, dir) =>
      // user top-3 item-CF recommendations: |history| x 10 truncated
      // neighbor expansion (the production fan-out cap), integer score
      // sums, owned items anti-joined out. Served from the memoized
      // materialized artifact (r9): the audit query consumes the same
      // table, so the chain builds once per (session, dir)
      graft.ops.Recommend.recommendationsFor(dir,
        Tables.lineitem(s, dir), Tables.orders(s, dir))),
    "graph_modularity" -> ((s, dir) =>
      // Newman modularity of the LPA communities: did label propagation
      // find structure? q_num/M^2 as ONE double division of exact
      // BIGINTs - no fixed-point div, so negative Q needs no
      // truncation-convention pinning
      graft.ops.Graph.communityModularityOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    "rec_coverage" -> ((s, dir) =>
      // recommender health audit: catalog coverage + max exposure share
      // of the rec_user_topn output, exact fixed-point ratios. Audits
      // the SAME memoized artifact rec_user_topn serves (r9) — pure
      // O(recs) aggregation, never a second chain build
      graft.ops.Recommend.coverageAuditOf(
        graft.ops.Recommend.recommendationsFor(dir,
          Tables.lineitem(s, dir), Tables.orders(s, dir)),
        Tables.lineitem(s, dir))),
    "eval_feature_auc" -> ((s, dir) =>
      // one-pass feature screening: per-feature midrank AUC against the
      // returned-flag label, integer-quantized scores so rank sums are
      // exact BIGINT (the aucQuantized discipline, unpivoted in-stage)
      graft.ops.Eval.featureAuc(Tables.lineitem(s, dir), Seq(
        "quantity" -> col("l_quantity"),
        "price_cents" -> (col("l_extendedprice") * 100),
        "discount_pct" -> (col("l_discount") * 100)),
        col("l_returnflag") === "R")),
    "graph_local_clustering" -> ((s, dir) =>
      // per-node Watts-Strogatz clustering coefficient on the strong-tie
      // graph: the oriented-wedge triangle machinery with the apex kept,
      // per-vertex census, exact fixed-point ratio
      graft.ops.Graph.localClusteringOf(
        graft.ops.Graph.coPurchaseEdgesFor(dir, Tables.lineitem(s, dir), minSupport = 2))),
    "eval_ndcg" -> ((s, dir) =>
      // NDCG@10 of brute cosine retrieval, same-label relevance: the
      // 1/log2(rank+1) discount QUANTIZED to an e6 integer weight table
      // so DCG/IDCG are exact BIGINT sums (the aucQuantized discipline)
      graft.ops.Eval.ndcgSameLabel(Tables.embeddings(s, dir))),
    "ts_lead_lag" -> ((s, dir) =>
      // lead-lag cross-correlation of daily orders-placed vs
      // lines-shipped: co-moment sums exact in BIGINT, r one identical
      // IEEE expression; lag fan-out is an in-stage sequence explode on
      // the O(days) aggregated frame
      graft.ops.Temporal.leadLagCorrelation(
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "ts_backtest" -> ((s, dir) =>
      // seasonal-naive forecast backtest: forecast(d) = actual(d-7),
      // per weekday-slot WAPE in exact fixed point over integer cents -
      // the evaluation loop the reference's forecast ingest never closes
      graft.ops.Temporal.seasonalNaiveBacktest(Tables.orders(s, dir))),
    "dq_inclusion" -> ((s, dir) =>
      // inclusion-dependency (FK-candidate) census over four candidate
      // pairs: containment of distinct child keys in the parent key,
      // exact ratios - schema inference for undeclared join keys
      graft.ops.Expectations.inclusionCensus(Seq(
        graft.ops.Expectations.Inclusion(
          "lineitem.l_orderkey->orders.o_orderkey",
          Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        graft.ops.Expectations.Inclusion(
          "orders.o_custkey->customer.c_custkey",
          Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        graft.ops.Expectations.Inclusion(
          "lineitem.l_partkey->part.p_partkey",
          Tables.lineitem(s, dir), "l_partkey",
          Tables.part(s, dir), "p_partkey"),
        graft.ops.Expectations.Inclusion(
          "part.p_partkey->lineitem.l_partkey",
          Tables.part(s, dir), "p_partkey",
          Tables.lineitem(s, dir), "l_partkey")))),
    "graph_pagerank" -> ((s, dir) =>
      // 3-iteration PageRank over the supplier<->part bipartite graph in
      // 1e-12 FIXED POINT: integer arithmetic is order-independent, so
      // the distributed sum hash-matches DuckDB's bit-for-bit - the
      // cross-engine promise floating-point PageRank cannot make
      graft.ops.Graph.pageRankOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    "graph_ppr" -> ((s, dir) =>
      // personalized PageRank: restart mass only on the seed parts
      // (every 50th) - random-walk-with-restart proximity for
      // related-item retrieval, same 1e-12 integer fixed point so the
      // sparse walk hash-matches DuckDB bit-for-bit
      graft.ops.Graph.personalizedPageRankOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    // ---- beyond-reference: spatial joins (ops.Spatial) -----------------
    "spatial_radius_join" -> ((s, dir) =>
      // grid-blocked radius self-join: candidates only in the 3x3 cell
      // neighborhood (bounded 9x fan-out + equi-join), never the O(n^2)
      // distance cross join the oracle is allowed at fixture scale;
      // integer squared distances, hash-exact
      graft.ops.Spatial.radiusJoin(
        graft.ops.Spatial.customerPoints(Tables.customer(s, dir)), r = 25)),
    "spatial_density" -> ((s, dir) =>
      // per-cell hotspot census: one hash aggregate + TakeOrdered
      graft.ops.Spatial.density(
        graft.ops.Spatial.customerPoints(Tables.customer(s, dir)), c = 50)),
    "spatial_knn" -> ((s, dir) =>
      // k-nearest within radius per query point: 3x3-blocked candidates
      // + per-query window — the kNN-join face of the radius join, with
      // the radius-bounded semantics a blocked plan can certify
      graft.ops.Spatial.knnWithin(
        graft.ops.Spatial.customerPoints(Tables.customer(s, dir)),
        r = 50, k = 5)),
    "graph_bfs" -> ((s, dir) =>
      // multi-source BFS: exact hop distances from every 10th supplier,
      // level-synchronous with per-round min-merge so shuffle traffic is
      // O(reached nodes), never O(paths) - the oracle's recursive CTE
      // dedups on (node, dist) for the same reason
      graft.ops.Graph.bfsDistancesOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    "graph_sssp" -> ((s, dir) =>
      // weighted multi-source shortest paths: 3 synchronous Bellman-Ford
      // relaxations in exact BIGINT min-plus (weight = per-pair min
      // quantity) — the weighted twin of graph_bfs; top-20 nearest.
      // Rides the memoized artifact's weightedEdges (r10 verdict task 3)
      graft.ops.Graph.weightedShortestPathsOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    "graph_lpa" -> ((s, dir) =>
      // synchronous label propagation with the pinned most-frequent/
      // min-label rule — deterministic community detection (async LPA is
      // run-order-dependent); community-size census after 2 rounds
      graft.ops.Graph.labelPropagationOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    "graph_assortativity" -> ((s, dir) =>
      // hub-attaches-to-hub diagnostic: Pearson over endpoint degrees of
      // every directed edge, BIGINT sufficient statistics, identical
      // double combination both engines (sqrt-irrational, no tie hazard)
      graft.ops.Graph.assortativityOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    "graph_link_predict" -> ((s, dir) =>
      // top-20 NON-adjacent part pairs by common-neighbor Jaccard on the
      // strong-tie graph — the wedges that did NOT close, ranked; exact
      // integer counts, exact-ratio Jaccard, (u,v) tiebreaks
      graft.ops.Graph.linkPredictionOf(
        graft.ops.Graph.coPurchaseEdgesFor(dir, Tables.lineitem(s, dir), minSupport = 2))),
    "graph_reciprocity" -> { (s, dir) =>
      // digraph symmetry of the nation-trade graph (customer nation ->
      // supplier nation per lineitem): share of distinct non-loop edges
      // whose reverse flow also exists. The fact joins collapse to the
      // nation x nation edge set before any pairwise work. The uniform
      // fixture fills the complete digraph (reciprocity would pin at the
      // non-discriminating 1.0, hiding double-count bugs from the
      // oracle), so a direction-ASYMMETRIC deterministic sparsifier —
      // drop (a,b) when (2a+b) % 5 = 0, which usually keeps (b,a) —
      // stands in for a sanctioned-routes prune and puts the share
      // strictly inside (0, 1)
      val edges = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").cast("long").as("src"),
          col("s_nationkey").cast("long").as("dst"))
        .filter((col("src") * 2 + col("dst")) % 5 =!= 0)
      graft.ops.Graph.reciprocity(edges, "src", "dst")
    },
    "graph_kcore" -> ((s, dir) =>
      // k-core census by synchronous delta peeling: degree table built
      // once, each round decrements survivors by a broadcast of the
      // just-removed frontier; fixed 6 sweeps (idempotent past the
      // fixpoint, mirroring the unrolled oracle) + a loud convergence
      // assertion so an under-provisioned cap can never ship wrong
      graft.ops.Graph.kCoreOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    "graph_feature_prop" -> ((s, dir) =>
      // GraphSAGE-mean primitive in exact integers: part price ->
      // supplier floor-mean -> part floor-mean-of-means; two
      // join+groupBy message-passing rounds, state O(nodes)
      graft.ops.Graph.featurePropagation(
        Tables.lineitem(s, dir), Tables.part(s, dir))),
    "graph_harmonic" -> ((s, dir) =>
      // harmonic centrality of a FIXED 8-seed panel (state O(nodes*8) at
      // any scale): level-synchronous multi-source BFS to 3 hops, the
      // truncated harmonic sum exact over lcm 60 — no double formed
      graft.ops.Graph.harmonicCentralityOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),
    "graph_hits" -> ((s, dir) =>
      // Kleinberg hubs & authorities on the directed supplier->part list:
      // L1-normalized half-steps in 1e-6 integer fixed point (truncating
      // div identical cross-engine), top-10 each side, node tiebreaks —
      // the oracle unrolls both iterations as CTEs
      graft.ops.Graph.hitsOf(
        graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(s, dir)))),

    // ---- beyond-reference: probabilistic record linkage (ops.Linkage) --
    "link_candidates" -> { (s, dir) =>
      // Fellegi-Sunter step 1-2: blocked candidate pairs (equi-join on
      // (nation, balance-century) with the neighbor-block recovery pass,
      // never all-pairs) reduced to the agreement-pattern census - the
      // m/u-probability table a linkage model is estimated from
      import graft.ops.Linkage._
      val (a, b) = noisyViews(Tables.customer(s, dir))
      candidates(a, b)
        .groupBy("agr_name", "agr_bal", "agr_seg", "seg_missing")
        .agg(count(lit(1)).as("n_pairs"))
    },
    "link_matches" -> { (s, dir) =>
      // step 3: additive integer-weight scoring + threshold decisions;
      // non-matches (the overwhelming mass at scale) are never
      // materialized - only match/possible rows survive the filter
      import graft.ops.Linkage._
      val (a, b) = noisyViews(Tables.customer(s, dir))
      score(candidates(a, b))
    },
    "link_eval" -> { (s, dir) =>
      // step 4: precision/recall/F1 against ground truth (a_id == b_id by
      // construction), exact e4 ratios, 1-row broadcast denominator
      import graft.ops.Linkage._
      val cust = Tables.customer(s, dir)
      val (a, b) = noisyViews(cust)
      evaluate(score(candidates(a, b)),
        cust.agg(count(lit(1)).as("n_truth")))
    },
    "link_name_blocks" -> ((s, dir) =>
      // fuzzy-name linkage step 1: blocking-quality census at the
      // DISTINCT-name level (pair counts are O(vocab^2/blocks), row-count
      // independent) - profile the candidate space BEFORE paying for it
      graft.ops.Linkage.nameBlockingStats(Tables.part(s, dir))),
    "link_dl_names" -> ((s, dir) =>
      // fuzzy-name linkage step 2: blocked TRUE Damerau-Levenshtein
      // (codegen'd expression; transposition-aware, integer-exact) over
      // distinct name pairs; entity multiplicity rides as n_a*n_b counts
      graft.ops.Linkage.dlNameMatches(Tables.part(s, dir), maxDist = 3)),
    "link_jw_names" -> ((s, dir) =>
      // fuzzy-name linkage, similarity side: blocked Jaro-Winkler as
      // exact half-up e6 BIGINT (integer rational arithmetic - the
      // threshold can never flip on a last-ulp double disagreement)
      graft.ops.Linkage.jwNameMatches(Tables.part(s, dir),
        minJwE6 = 700000L)),
    "link_name_clusters" -> ((s, dir) =>
      // fuzzy-name linkage step 3: connected components over the matched
      // name graph (brand-qualified nodes), per-cluster entity census;
      // singletons kept - unmatched entities still count
      graft.ops.Linkage.nameClusters(Tables.part(s, dir), maxDist = 3)),
    "q_skyline" -> ((s, dir) =>
      // Pareto frontier on (price min, size max): distinct-x reduction +
      // bucketed prefix-max - never the O(n^2) dominance anti-join the
      // oracle is allowed to use at fixture scale
      operators.Skyline.skyline2D(
        Tables.part(s, dir), "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))),
    "incr_agg_merge" -> { (s, dir) =>
      // incremental view maintenance: standing daily partials (orders
      // before 2000) + a new batch's partials, merged - proving the
      // algebraic state composes to exactly the full recompute (oracle)
      val orders = Tables.orders(s, dir)
      val cut = lit("2000-01-01").cast("date")
      val standing = graft.ops.IncrementalAgg.dailyOrderPartials(
        orders.filter(col("o_orderdate").cast("date") < cut))
      val batch = graft.ops.IncrementalAgg.dailyOrderPartials(
        orders.filter(col("o_orderdate").cast("date") >= cut))
      graft.ops.IncrementalAgg.finalizeDaily(
        graft.ops.IncrementalAgg.mergePartials(Seq(standing, batch)))
    },
    "incr_topk_maintain" -> { (s, dir) =>
      // incremental top-k: record-selection top-k is a monoid under
      // union-then-truncate, so the maintained view — topK(state) merged
      // with topK(delta batch), re-truncated — must equal the full
      // recompute (the oracle's single window). Top-10 highest-value
      // orders per priority, orderkey tiebreak; the date cut makes the
      // delta a realistic late batch.
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_date"))
      val cut = lit("1998-01-01").cast("date")
      val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
      def top(df: org.apache.spark.sql.DataFrame) =
        graft.ops.IncrementalAgg.topK(df, Seq("o_orderpriority"), ord, 10)
      top(top(o.filter(col("o_date") < cut))
        .unionByName(top(o.filter(col("o_date") >= cut))))
        .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
          col("o_totalprice"))
    },
    "incr_join_maintain" -> { (s, dir) =>
      // incremental maintenance of a JOIN view by the delta rule:
      // V' = V_old ∪ ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB. Orders split by a
      // date cut (fact inserts), customers split by key residue (dim
      // inserts); the maintained view must equal the full-recompute join
      // (oracle). Both delta sides broadcast — the standing sides are
      // never shuffled, which is the whole point at 100 TB. Output is the
      // view's per-segment rollup (decimal-exact sums, the
      // incr_agg_merge lesson). The cut sits near the end of the order
      // range so the delta is a realistic small batch (the broadcast
      // side must be delta-sized for the plan to hold at scale); the
      // oracle is the full-recompute join and is cut-independent.
      val cut = lit("1998-01-01").cast("date")
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_price"),
        col("o_orderdate").cast("date").as("o_date"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val (aOld, aDelta) = (o.filter(col("o_date") < cut),
        o.filter(col("o_date") >= cut))
      val (bOld, bDelta) = (c.filter(col("o_custkey") % 7 =!= 0),
        c.filter(col("o_custkey") % 7 === 0))
      val standingView = aOld.join(bOld, "o_custkey") // stored in prod
      val maintained = standingView.unionByName(
        graft.ops.IncrementalAgg.joinDelta(aOld, aDelta, bOld, bDelta,
          "o_custkey"))
      maintained.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_price")).cast("double").as("revenue"))
    },
    "sketch_kmv_distinct" -> ((s, dir) =>
      // mergeable KMV distinct sketch: per-month estimates + an 'ALL' row
      // built by MERGING the monthly sketches (never re-reading orders) -
      // the sketch state is exact hashes, so DuckDB certifies estimate
      // AND merge bit-for-bit (impossible with HLL registers)
      graft.ops.Sketches.kmvDistinctRollup(Tables.orders(s, dir),
        date_format(col("o_orderdate").cast("date"), "yyyy-MM"),
        col("o_custkey"))),
    "sketch_hll_distinct" -> ((s, dir) =>
      // the constant-state (2 KiB) HLL twin of sketch_kmv_distinct:
      // identical rollup shape, register arithmetic pure-integer and
      // engine-reproducible (md5 top-11-bit index, bitlength rho), the
      // one floating-point step a single shared-literal division — so
      // DuckDB certifies build, merge, AND estimator bit-for-bit
      graft.ops.Sketches.hllDistinctRollup(Tables.orders(s, dir),
        date_format(col("o_orderdate").cast("date"), "yyyy-MM"),
        col("o_custkey"))),
    "sketch_kmv_overlap" -> ((s, dir) =>
      // cohort-overlap from sketches alone: 1995 vs 1996 customer sets,
      // theta-style intersection over the merged KMV union, exact
      // intersection alongside as the oracle's certificate
      graft.ops.Sketches.kmvOverlap(
        Tables.orders(s, dir).select(col("o_custkey"),
          (year(col("o_orderdate").cast("date")) === 1995).as("a"),
          (year(col("o_orderdate").cast("date")) === 1996).as("b")),
        col("o_custkey"), col("a"), col("b"))),
    "sketch_sample_quantile" -> ((s, dir) =>
      // mergeable quantile sketch: per-priority p50/p90 from a bottom-k-
      // by-hash uniform sample (O(k) state), 'ALL' row merged FROM the
      // per-group samples, exact rank-selected percentiles alongside as
      // the certificate — sample membership, selection, and merge are
      // all hash-deterministic, so DuckDB certifies bit-for-bit
      graft.ops.Sketches.quantileSketch(Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))),
    "incr_quantile_maintain" -> ((s, dir) =>
      // maintained quantile sketch: standing bottom-64-by-hash sample +
      // delta batch sample, union-then-truncate — hash-deterministic, so
      // the merged sample is BIT-identical to the full re-sketch (oracle
      // = full recompute); exact rank certificate alongside
      graft.ops.Sketches.quantileMaintain(Tables.orders(s, dir),
        col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("date") >= lit("1998-01-01").cast("date"))),
    "ts_backlog_sweep" -> ((s, dir) =>
      // sweep-line interval concurrency: peak simultaneously-open line
      // items per supplier (open = order date until ship date), closings
      // before openings pinned by collapsing to per-(supp, date) NET
      // events before the keyed running sum — deterministic, O(supplier
      // x active dates) window input, never a global sort
      graft.ops.Temporal.backlogSweep(
        Tables.lineitem(s, dir), Tables.orders(s, dir))),
    "corpus_vocab_growth" -> ((s, dir) =>
      // Heaps-law checkpoints: cumulative vocabulary vs token volume at
      // doc-count deciles — "how much new vocabulary does the next 10%
      // of data buy"; one token->first-doc aggregate + one per-doc count,
      // 10-row decile broadcast, type-token ratio in exact fixed point
      graft.ops.TextAnalysis.vocabGrowth(Tables.documents(s, dir))),
    "sql_function_surface" -> { (s, dir) =>
      // the pure-SQL consumption path, certified through the gate: a
      // spark.sql string using the registered aggregate (graft_bitmap),
      // scalar combinator (graft_bitmap_card), and codegen'd expression
      // (graft_zorder) — what a SQL-only user of the library runs; the
      // oracle recomputes the Morton checksum via the 16-term closed
      // form LayoutSpec pins against the native expression
      graft.functions.VectorFunctions.register(s)
      Tables.orders(s, dir).createOrReplaceTempView("orders_sqlv")
      s.sql("""SELECT o_orderpriority AS grp,
              |       graft_bitmap_card(graft_bitmap(o_custkey))
              |         AS n_distinct,
              |       sum(graft_zorder(o_custkey % 1024, o_orderkey % 1024))
              |         AS zsum
              |FROM orders_sqlv
              |GROUP BY o_orderpriority
              |ORDER BY grp""".stripMargin)
    },
    "bitmap_distinct" -> ((s, dir) =>
      // exact per-priority distinct customers via roaring-style compressed
      // bitmaps, ALL row by MERGING the per-group bitmaps (never re-reading
      // orders) — the exact twin of sketch_kmv_distinct's rollup path
      graft.ops.Bitmaps.bitmapDistinctRollup(Tables.orders(s, dir),
        col("o_orderpriority"), col("o_custkey"))),
    "bitmap_retention" -> ((s, dir) =>
      // year-over-year customer retention from per-year bitmaps alone:
      // member/overlap counts off the serialized containers (two-pointer
      // AND walk), churn/new by inclusion-exclusion, rates in exact fixed
      // point — the canonical audience-segmentation bitmap workload
      graft.ops.Bitmaps.bitmapRetention(Tables.orders(s, dir),
        year(col("o_orderdate").cast("date")), col("o_custkey"))),
    "graph_triangles" -> ((s, dir) =>
      // degree-oriented STRONG-TIE triangle census (support >= 2): the
      // noise-pruned rendering — the support filter at the first aggregate
      // collapses wedge volume 5 orders of magnitude at sf0.1, so this is
      // the bench-scale entry; the exact support>=1 census is the same
      // plan (GraphSpec-pinned) and was Diag-adjudicated at ~7 s
      // structural, all of it the data's 41 M wedges
      graft.ops.Graph.triangleStatsOf(
        graft.ops.Graph.coPurchaseEdgesFor(dir, Tables.lineitem(s, dir), minSupport = 2))),
    "assoc_frequent_triples" -> ((s, dir) =>
      // A-priori frequent token triples at 25% corpus support: L1
      // restriction BEFORE pair fan-out (monotonicity), fraction-based
      // threshold as a 1-row broadcast
      graft.ops.Association.frequentTriples(Tables.documents(s, dir))),

    // ---- beyond-reference: event-time analytics (streaming.EventAggs;
    //      batch-equivalent plans of the streaming transforms) -------------
    "stream_window_agg" -> ((s, dir) =>
      graft.streaming.EventAggs.windowedByType(Tables.events(s, dir))),
    "stream_sliding_agg" -> ((s, dir) =>
      graft.streaming.EventAggs.slidingByType(Tables.events(s, dir))),
    "stream_daily_rollup" -> ((s, dir) =>
      graft.streaming.EventAggs.dailyUserRollup(Tables.events(s, dir))),
    "stream_topk_sketch" -> ((s, dir) =>
      // fourth stream face of the sketch family: per-hour top-5 events
      // by value via the bounded-heap TopKAggregate - O(k) state per
      // window at any volume, stream == batch (semilattice merge)
      graft.streaming.EventAggs.windowedTopK(Tables.events(s, dir))),
    "stream_freq_sketch" -> ((s, dir) =>
      // streaming face of the CMS (frequency leg of the sketch triad):
      // per-hour-window d×w cell counts — additive state, so the batch
      // face here is bit-identical to the streamed sketch (StreamingSpec)
      // and DuckDB rebuilds every cell (j cast long: DuckDB series are
      // BIGINT)
      graft.streaming.EventAggs.windowedFrequencySketch(
        Tables.events(s, dir), d = 4, w = 256)
        .select(col("window_start"), col("j").cast("long").as("j"),
          col("bucket"), col("cnt"))),
    "stream_quantile_sketch" -> ((s, dir) =>
      // streaming face of the sample-quantile sketch: per-hour-window
      // bottom-k-by-hash sample, rank-selected p50/p90 — O(k) state per
      // window, bit-identical stream/batch/DuckDB
      graft.streaming.EventAggs.windowedQuantileSketch(
        Tables.events(s, dir), k = 64)),
    "stream_hll_sketch" -> ((s, dir) =>
      // streaming face of the HLL: per-hour-window distinct-user registers
      // at a flat 2 KiB per window regardless of cardinality — stream,
      // batch, and DuckDB registers bit-identical (pure set function)
      graft.streaming.EventAggs.windowedDistinctHll(Tables.events(s, dir))),
    "stream_bitmap_distinct" -> ((s, dir) =>
      // EXACT windowed distinct via the bitmap union riding stateful
      // aggregation — the billing-grade twin of the KMV/HLL window faces
      graft.streaming.EventAggs.windowedDistinctBitmap(Tables.events(s, dir))),
    "bitmap_rolling_distinct" -> ((s, dir) =>
      // rolling 7-day distinct users — the non-algebraic rolling aggregate
      // solved by bitmap mergeability: per-day bitmaps unioned inside a
      // calendar RANGE frame over the O(days) day table; data scanned once
      graft.ops.Bitmaps.rollingDistinctUsers(Tables.events(s, dir))),
    "events_type_bigrams" -> ((s, dir) =>
      // first-order sequence census: consecutive event-type pairs per
      // user stream (keyed lead window), corpus-wide counts
      graft.streaming.EventAggs.typeBigrams(Tables.events(s, dir))),
    "events_hourly_profile" -> ((s, dir) =>
      // diurnal fingerprint: per (type, hour-of-day) counts and exact
      // hour shares - the seasonality baseline anomaly thresholds and
      // capacity plans calibrate against
      graft.streaming.EventAggs.hourlyProfile(Tables.events(s, dir))),
    "stream_lateness" -> ((s, dir) =>
      // watermark-lateness census: how much data would a 10-minute
      // watermark discard? late iff event time sits behind the per-type
      // stream's running max by more than the delay; exact integer
      // micros, one keyed window
      graft.streaming.EventAggs.latenessCensus(Tables.events(s, dir))),
    "w10_streaks" -> { (s, dir) =>
      // gaps-and-islands: longest consecutive-month order streak per
      // customer (island key = month index minus per-customer rank — the
      // classic difference-of-sequences rendering), presented as the
      // streak-length census. Every window is keyed by customer: no
      // global sort, no one-partition window, all three aggregates
      // partial-aggregable — the shape survives any customer count
      val m = Tables.orders(s, dir)
        .select(col("o_custkey"),
          (year(col("o_orderdate").cast("date")) * 12 +
            month(col("o_orderdate").cast("date")) - 1).as("m"))
        .distinct()
      val w = Window.partitionBy("o_custkey").orderBy("m")
      val runs = m.withColumn("island", col("m") - row_number().over(w))
        .groupBy("o_custkey", "island").agg(count(lit(1)).as("len"))
      runs.groupBy("o_custkey").agg(max("len").as("longest"))
        .groupBy(col("longest").cast("long").as("streak_months"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("streak_months")
    },
    "events_json_extract" -> ((s, dir) =>
      graft.streaming.EventAggs.extractProps(Tables.events(s, dir))),
    "events_funnel" -> ((s, dir) =>
      graft.streaming.EventAggs.funnel(Tables.events(s, dir))),
    "events_anomaly" -> ((s, dir) =>
      // robust (median/MAD) daily-volume anomaly flags per event type
      graft.streaming.EventAggs.dailyAnomalies(Tables.events(s, dir))),
    "feat_winsorize" -> ((s, dir) =>
      // per-group p05/p95 winsorization - heavy-tail clamp before training
      graft.ops.Features.winsorize(Tables.lineitem(s, dir),
        "l_returnflag", "l_extendedprice",
        idCols = Seq("l_orderkey", "l_linenumber"))),
    "skew_distinct_salted" -> ((s, dir) =>
      // exact distinct parts per returnflag (3 groups, heavy per-group
      // state — the distinct-skew scenario) by VALUE-domain salting:
      // per-(key, id mod 32) distinct counts add exactly, so phase one is
      // 32-way parallel bounded state and phase two an O(keys x 32) sum
      operators.SkewProfile.saltedDistinct(
        Tables.lineitem(s, dir), "l_returnflag", "l_partkey")),
    "incr_distinct_maintain" -> ((s, dir) => {
      // IVM triad's third leg: distinct is non-algebraic, so the standing
      // state is a mergeable bitmap per group; maintained total, overlap
      // with the batch, and net-new distinct must equal the full
      // recompute (oracle). Batch = every 10th orderkey.
      val o = Tables.orders(s, dir)
      graft.ops.Bitmaps.incrementalDistinct(
        o.filter(col("o_orderkey") % 10 =!= 0),
        o.filter(col("o_orderkey") % 10 === 0),
        col("o_orderpriority"), col("o_custkey"))
    }),
    "skew_hot_keys" -> ((s, dir) =>
      // hottest join keys by exact count + corpus share (bounded-heap top-k,
      // not sort+limit) - the pre-shuffle skew diagnostic
      operators.SkewProfile.hotKeys(Tables.events(s, dir), "user_id", k = 20)),
    "skew_histogram" -> ((s, dir) =>
      // key-frequency histogram in power-of-two buckets over the join key
      operators.SkewProfile.histogram(Tables.lineitem(s, dir), "l_partkey")),
    "skew_salt_plan" -> ((s, dir) =>
      // the one-row shuffle pre-flight: skew factor (max*keys/rows) and
      // the computed salt fan-out that flattens the hot partition - the
      // j12_salted_join prescription derived from data, not guessed
      graft.ops.Layout.joinKeySkew(
        Tables.events(s, dir).filter(col("user_id").isNotNull),
        col("user_id"))),
    "text_boilerplate" -> ((s, dir) =>
      // CCNet-style boilerplate census over positional 4-token chunks:
      // chunks repeated across >= 2 docs of one language (here: the
      // near-dup pairs' shared content; the fixture's max chunk df is 2,
      // so the production-ish df>=3 would be vacuous), top-20 by df
      graft.ops.TextAnalysis.boilerplateChunks(Tables.documents(s, dir))),
    "curate_boilerplate_share" -> ((s, dir) =>
      // per-doc share of corpus-repeated chunks - the signal a curation
      // pass strips or prunes on; exact fixed-point ratios
      graft.ops.TextAnalysis.boilerplateShare(Tables.documents(s, dir))),
    "sim_sq8_error" -> ((s, dir) =>
      // SQ8 acceptance report: per-label absolute reconstruction-error
      // stats in e6 fixed point (order-independent BIGINT sums; the only
      // doubles are single divisions of exact integers)
      graft.ops.Similarity.sqErrorAudit(Tables.embeddings(s, dir))),
    "dedup_source_overlap" -> ((s, dir) =>
      // cross-source contamination matrix: shared distinct 4-grams +
      // overlap coefficient per source pair - mirror sites and re-crawls
      // surface as high-overlap pairs; per-gram fan-out bounded by the
      // SOURCE catalog (C(20,2)), never the corpus
      graft.ops.Dedup.sourceOverlap(Tables.documents(s, dir))),
    "dedup_yield" -> ((s, dir) =>
      // per-language exact-dedup yield: docs/tokens before vs after
      // keep-smallest-id dedup, token-removal share in exact fixed point
      // - the cost/benefit line a curation run publishes
      graft.ops.Dedup.dedupYield(Tables.documents(s, dir))),
    "j8_interval_join" -> { (s, dir) =>
      // stream-stream interval join in its batch-equivalent form: each view
      // paired with the user's purchases in the preceding hour
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      graft.streaming.StreamJoins.intervalJoin(views, purchases, "user_id", "ts")
        .select(col("l.event_id"), col("l.user_id"), col("l.ts"), col("l.value"),
          col("r.ts").as("purchase_ts"), col("purchase_id"), col("purchase_value"))
    },

    // ---- beyond-reference: extended relational coverage ------------------
    "j5_asof" -> { (s, dir) =>
      // point-in-time join: each non-purchase event annotated with the
      // user's latest purchase at-or-before it (operators.AsOfJoin).
      val ev = Tables.events(s, dir)
      val left = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"), col("value").as("purchase_value"))
      graft.operators.AsOfJoin.leftAsOf(
        left, right, "user_id", "ts", "ts", Seq("purchase_event_id", "purchase_value"))
    },
    "j5c_asof_forward" -> { (s, dir) =>
      // forward as-of (pandas direction='forward'): each event annotated
      // with the user's NEXT purchase at-or-after it — time negation
      // reduces it to the backward join, losslessly (integer micros)
      val ev = Tables.events(s, dir)
      val left = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"),
          col("value").as("purchase_value"))
      graft.operators.AsOfJoin.leftAsOfForward(
        left, right, "user_id", "ts", "ts",
        Seq("purchase_event_id", "purchase_value"))
    },
    "j5d_asof_nearest" -> { (s, dir) =>
      // nearest as-of (pandas direction='nearest'): whichever purchase
      // sits closer in time, exact integer-microsecond distances,
      // equidistant -> backward (pinned); composed from the two
      // directional one-shuffle passes, winner's payload taken whole
      val ev = Tables.events(s, dir)
      val left = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"),
          col("value").as("purchase_value"))
      graft.operators.AsOfJoin.leftAsOfNearest(
        left, right, "user_id", "ts", "ts",
        Seq("purchase_event_id", "purchase_value"))
    },
    "j5b_asof_tolerance" -> { (s, dir) =>
      // the pandas merge_asof tolerance variant: matches staler than 30
      // minutes are discarded (payload nulled atomically); the bound
      // compares exact integer microseconds on both engines
      val ev = Tables.events(s, dir)
      val left = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"),
          col("value").as("purchase_value"))
      graft.operators.AsOfJoin.leftAsOfTolerance(
        left, right, "user_id", "ts", "ts",
        Seq("purchase_event_id", "purchase_value"),
        toleranceMicros = 1800L * 1000000L)
    },
    "a5_count_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))),
    "a6_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir).rollup("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))),
    "a7_percentile" -> ((s, dir) =>
      // exact interpolated percentile - buffers every value per group, so
      // it is the small-group/parity path; a8 is the scale path.
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"))),
    "a8_approx_percentile" -> ((s, dir) =>
      // scale path: GK-sketch percentile with bounded state per group (the
      // exact `percentile` buffers all values - OOM at 100x group sizes).
      // With accuracy >= group size the sketch is exact and returns the
      // element at rank ceil(p*n) - the same convention as DuckDB's
      // quantile_disc, which makes this oracle-checkable.
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        expr("approx_percentile(l_quantity, 0.5, 1000000)").as("median_qty"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000000)").as("p90_price"))),
    "a11_corr" -> ((s, dir) =>
      // single-pass co-moment aggregates (corr/covar/stddev) - the column
      // relationship profile, engine-portable because both engines use
      // one-pass co-moment accumulation
      Tables.lineitem(s, dir).agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_qty_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"))),
    "a9_grouping_sets" -> ((s, dir) =>
      // non-hierarchical grouping sets - two independent rollup axes in ONE
      // scan + one expand (rollup/cube cannot express (flag),(status) without
      // the combined set); the aggregate is still partial/final two-phase.
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))),
    "a13_mode" -> ((s, dir) =>
      // exact per-group MODE as two aggregates: value counts, then the
      // a10-style struct-max argmax (highest count, ties to the smallest
      // value) — no per-group sort, state one struct per group
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .groupBy("l_returnflag", "qty").agg(count(lit(1)).as("n"))
        .groupBy("l_returnflag")
        .agg(max(struct(col("n"), (-col("qty")).as("neg_q"))).as("m"))
        .select(col("l_returnflag"), (-col("m.neg_q")).as("mode_qty"),
          col("m.n").as("n_mode"))),
    "w11_percentile_disc" -> { (s, dir) =>
      // exact DISCRETE percentiles as order statistics — the value AT
      // rank ceil(q*n), no interpolation, no doubles; tie order among
      // equal values cannot change the selected VALUE. r13: computed on
      // the AGGREGATED (flag, qty) domain (the aucQuantized discipline)
      // instead of row_number over raw rows — the value at rank r is the
      // smallest qty whose cumulative count reaches r, so the windows run
      // over O(distinct qty) rows per flag (~50) while the only
      // data-sized stage is a map-side-combined groupBy. Row-identical
      // to the row_number formulation (sf0.01-certified); the raw-row
      // windows were two single-task ~1 s passes over 600 k rows at
      // sf0.1.
      import org.apache.spark.sql.expressions.Window
      val g = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .groupBy("l_returnflag", "qty").agg(count(lit(1)).as("c"))
      val byFlag = Window.partitionBy("l_returnflag")
      val cum = g
        .withColumn("cum", sum("c").over(byFlag.orderBy(col("qty"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("c").over(byFlag))
      cum.groupBy("l_returnflag")
        // null caveat (r13 ADVICE): min(when(...)) skips NULL qty, while a
        // row_number formulation would return NULL when the rank lands on
        // a NULL-qty row (nulls sort first). Row-identical here because
        // l_quantity is NOT NULL in TPC-H lineitem; a null-bearing input
        // would need an explicit qty.isNotNull filter before the groupBy.
        .agg(max("n").as("n"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("qty")))
            .as("p50_disc"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("qty")))
            .as("p90_disc"))
        .orderBy("l_returnflag")
    },
    "a10_argmax" -> ((s, dir) =>
      // per-group argmax as an AGGREGATE (not a window): max over
      // (value, -user_id) structs gives "highest value, ties to the lower
      // user" with map-side partial aggregation - no per-group sort, state
      // is one struct per group at any scale.
      Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(max(struct(col("value"), (-col("user_id")).as("neg_uid"))).as("m"))
        .select(col("event_type"), (-col("m.neg_uid")).as("top_user"),
          col("m.value").as("top_value"))),
    "w6_range_frame" -> ((s, dir) =>
      // RANGE frame over event time: each event's trailing-1-hour value sum
      // per user. Range frames bound state by TIME, not row count - the
      // windowed-aggregation shape that stays correct under bursty traffic
      // (a rows-frame would silently change meaning with event density).
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"), col("value"))
        .withColumn("trailing_sum",
          round(sum(col("value")).over(
            Window.partitionBy("user_id").orderBy(col("ts_ms"))
              .rangeBetween(-3600000L, 0L)), 4))),
    "q_topn" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")),
    "w7_topn_per_group" -> ((s, dir) =>
      // top-3 per group via rank filter: Catalyst rewrites it to
      // WindowGroupLimit, so each map task keeps <= 3 rows per group BEFORE
      // the window exchange - the grouped complement of q_topn's
      // TakeOrdered (PlanGuardSpec pins the shape)
      Tables.customer(s, dir)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("c_mktsegment"))
            .orderBy(col("c_acctbal").desc, col("c_custkey"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rnk")),
    "scd2_build" -> { (s, dir) =>
      // SCD Type 2 dimension history from the events changelog: each
      // user's attribute versions stamped with [valid_from, valid_to)
      // intervals, NULL valid_to = live version. Timestamps leave as
      // epoch millis (the cross-engine-stable form, like w6).
      graft.ops.Temporal.scd2(
        Tables.events(s, dir)
          .select("user_id", "event_id", "ts", "event_type", "value"),
        Seq("user_id"), Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          unix_millis(col("valid_from")).as("valid_from_ms"),
          unix_millis(col("valid_to")).as("valid_to_ms"),
          col("is_current"))
    },
    "gap_fill" -> { (s, dir) =>
      // calendar densification of the daily rollup with carry-forward:
      // every date in each user's own activity span, last observation
      // repeated into the gaps (user subset keeps the output bounded)
      val daily = graft.streaming.EventAggs
        .dailyUserRollup(Tables.events(s, dir))
        .filter(col("user_id") % 20 === 0)
      graft.ops.Temporal.gapFill(daily, "user_id", "d", "n_events")
    },
    "cdc_snapshot" -> ((s, dir) =>
      // events as a CDC changelog: 'error' events are deletes, everything
      // else upserts; snapshot = each user's latest surviving change
      graft.icenet.TableOps.cdcSnapshot(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"),
            when(col("event_type") === "error", "delete")
              .otherwise("upsert").as("op")),
        keys = Seq("user_id"), orderBy = Seq("ts", "event_id"))),
    "table_stats" -> ((s, dir) =>
      // ANALYZE-style stats (see TableOps.columnStats): columns chosen so
      // string rendering is engine-stable (integral doubles, dates, enums)
      graft.icenet.TableOps.columnStats(
        Tables.lineitem(s, dir).withColumn("ship_date", col("l_shipdate").cast("date")),
        Seq("l_partkey", "l_quantity", "l_returnflag", "ship_date"))),
    "q6_forecast_revenue" -> ((s, dir) =>
      // TPC-H Q6 shape: the pure pushdown benchmark - three selective
      // predicates and a 2-column projection that must ALL reach the scan
      // (PlanGuardSpec asserts PushedFilters + ReadSchema), then one
      // scalar aggregate. At 100 TB this is the query where scan pruning
      // IS the runtime.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
          .as("revenue"))),
    "q3_shipping_priority" -> { (s, dir) =>
      // TPC-H Q3 shape: the composite every warehouse runs - two selective
      // filters pushed to their scans, customer (filtered, small) broadcast
      // into orders, the fact join on orderkey, grouped revenue, total-order
      // top-10 (TakeOrderedAndProject - only 10 rows leave each partition).
      val cutoff = lit("1998-01-01").cast("date")
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate").cast("date") < cutoff)
        .join(Tables.lineitem(s, dir)
            .filter(col("l_shipdate").cast("date") > cutoff),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("order_date"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("order_date").asc, col("l_orderkey").asc)
        .limit(10)
        .select("l_orderkey", "revenue", "order_date")
    },
    "q5_local_supplier" -> { (s, dir) =>
      // TPC-H Q5 shape: six-table join with the local-supplier correlation
      // (s_nationkey = c_nationkey rides the supplier equi-join), revenue
      // per nation. region/nation broadcast unconditionally (truly bounded
      // dims - the reference's own broadcast analog); customer/orders/
      // lineitem/supplier stay shuffle-joinable from statistics.
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
    },
    "set_ops" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      def keys(st: String) =
        o.filter(col("o_orderstatus") === st).select("o_custkey").distinct()
      keys("F").except(keys("O")).withColumn("tag", lit("only_f"))
        .unionByName(keys("F").intersect(keys("O")).withColumn("tag", lit("both")))
    },
    "w2_lag" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        lag(col("value"), 1).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")).as("prev_value"))),
    "w4_ntile" -> ((s, dir) =>
      // quartile bucketing per customer segment - the sampling/stratification
      // primitive (e.g. quality-tier splits of a training corpus).
      Tables.customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(
          Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey"))
          .cast("long").as("quartile"))),
    "w3_running_sum" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"),
        round(sum(col("o_totalprice")).over(
          Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
          .as("running_total"))),
    "p11_string_funcs" -> ((s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        substring(col("c_mktsegment"), 1, 3).as("seg3"),
        length(col("c_name")).as("name_len"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("seg_key"))),
    "f2_regex_extract" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"))),

    "sessionize_batch" -> { (s, dir) =>
      // gap sessionization via flatMapGroupsWithState in batch mode (full
      // flush); the oracle reproduces it with lag + cumulative-sum SQL.
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[graft.streaming.Sessionize.Event]
      graft.streaming.Sessionize.sessions(ev, emitOpen = true).toDF()
    },
    "sessionize_window" -> ((s, dir) =>
      // the BUILT-IN gap-session operator (session_window) next to the
      // custom stateful one above: Catalyst's SessionWindow merges a new
      // event into the session iff it starts strictly BEFORE the current
      // session's end (diff < gap; an exact-gap arrival opens a new
      // session), and session_end = last event + gap. Works unchanged on
      // a stream with watermark-bounded state.
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(col("sw.start").as("session_start"),
          col("sw.end").as("session_end"),
          col("user_id"), col("n_events"), col("sum_value"))),

    // ---- S2 end-to-end: DSv2 gridded source -> P2-P8 ingest chain --------
    "gridded_ingest" -> { (s, dir) =>
      // the full reference load path (processor.py:117-190) driven through
      // the engine-native source: write the deterministic fixture as a REAL
      // NetCDF classic file (CDF-1, time as the record dim — the
      // reference's actual input type, decoded byte-level by
      // NetcdfClassic), read it back via spark.read.format("gridded")
      // (DSv2: per-slice partitions, pruning into the codec), then run
      // Ingest.load (P2 filter, P3 null-drop, P5 unit scale, P6/P8 date
      // arith+trunc, P7 projection). The DuckDB oracle regenerates the same
      // cells from closed-form index math — proving NetCDF source + ingest
      // against an independent engine end to end. (.grid/.nc parity is
      // additionally pinned by NetcdfClassicSpec.)
      val path = graft.sources.GridFixture.ensureWrittenNc()
      Ingest.load(s.read.format("gridded").load(path))
        .select("xc_m", "yc_m", "date_forecast_generated", "date_forecast_for",
          "sea_ice_concentration_mean", "sea_ice_concentration_stddev")
    },
    "gridded_extent" -> { (s, dir) =>
      // sea-ice extent per (forecast date, leadtime): cells over the 15%
      // NSIDC threshold x exact 625 km^2 cell area - the headline metric
      // of the reference's domain, BIGINT throughout
      val path = graft.sources.GridFixture.ensureWrittenNc()
      Ingest.iceExtent(
        Ingest.load(s.read.format("gridded").load(path)))
    },
    "gridded_anomaly" -> { (s, dir) =>
      // per-cell climatology + anomaly through the same NetCDF source:
      // mean per (cell, leadtime) across forecast dates, anomaly = value
      // minus climatology - the anomaly-map primitive of the reference's
      // domain
      val path = graft.sources.GridFixture.ensureWrittenNc()
      Ingest.climatologyAnomaly(
        Ingest.load(s.read.format("gridded").load(path)))
    },
    "gridded_regrid" -> { (s, dir) =>
      // spatial coarsening through the same NetCDF source: 2x2 fine cells
      // -> one coarse cell per (time, leadtime), indices recovered exactly
      // from the 0.5-km-multiple centres, NaN mask cells excluded like the
      // oracle's NULLs; per block count/min/max/mean
      val path = graft.sources.GridFixture.ensureWrittenNc()
      graft.icenet.Ingest.regrid(s.read.format("gridded").load(path))
    },
    "gridded_ingest_hdf5" -> { (s, dir) =>
      // the same end-to-end load path through the NetCDF-4/HDF5 container
      // (superblock v0, contiguous datasets — the bounded slice Hdf5Netcdf
      // decodes): same fixture content, same oracle, so the HDF5 byte path
      // gets its own independent-engine proof, not just spec coverage
      val path = graft.sources.GridFixture.ensureWrittenH5()
      Ingest.load(s.read.format("gridded").load(path))
        .select("xc_m", "yc_m", "date_forecast_generated", "date_forecast_for",
          "sea_ice_concentration_mean", "sea_ice_concentration_stddev")
    },
    "gridded_ingest_hdf5_latest" -> { (s, dir) =>
      // the "latest format" HDF5 dialect (superblock v3, v2 OHDR headers,
      // link-message group, layout-v4 fixed-array chunk index,
      // shuffle+deflate) through the same load path: same fixture content,
      // same oracle — the libver='latest' byte path gets its own
      // independent-engine proof
      val path = graft.sources.GridFixture.ensureWrittenH5Latest()
      Ingest.load(s.read.format("gridded").load(path))
        .select("xc_m", "yc_m", "date_forecast_generated", "date_forecast_for",
          "sea_ice_concentration_mean", "sea_ice_concentration_stddev")
    },
    "gridded_ingest_hdf5_unlim" -> { (s, dir) =>
      // the appendable-time shape: unlimited time dimension, layout-v4
      // extensible-array chunk index (inline + data-block elements),
      // shuffle+deflate — what a daily-appending libver='latest' writer
      // produces; same fixture content, same closed-form oracle
      val path = graft.sources.GridFixture.ensureWrittenH5Unlim()
      Ingest.load(s.read.format("gridded").load(path))
        .select("xc_m", "yc_m", "date_forecast_generated", "date_forecast_for",
          "sea_ice_concentration_mean", "sea_ice_concentration_stddev")
    },
    "gridded_ingest_hdf5_bt2" -> { (s, dir) =>
      // the multi-unlimited-dim shape: layout-v4 v2 B-TREE chunk index
      // (BTHD header + BTLF leaf, filtered type-11 records),
      // shuffle+deflate — the last mainstream chunk-index class; same
      // fixture content, same closed-form oracle
      val path = graft.sources.GridFixture.ensureWrittenH5Bt2()
      Ingest.load(s.read.format("gridded").load(path))
        .select("xc_m", "yc_m", "date_forecast_generated", "date_forecast_for",
          "sea_ice_concentration_mean", "sea_ice_concentration_stddev")
    },
    "gridded_ingest_hdf5_dense" -> { (s, dir) =>
      // the many-variable root-group shape: DENSE (fractal-heap) link
      // storage with a root indirect block + depth-1 type-5 name B-tree
      // (46 links overflow both the one 512-byte direct block and the
      // one 45-record leaf); same fixture content, same closed-form
      // oracle — the byte path a wide libver='latest' NetCDF-4 file uses
      val path = graft.sources.GridFixture.ensureWrittenH5Dense()
      Ingest.load(s.read.format("gridded").load(path))
        .select("xc_m", "yc_m", "date_forecast_generated", "date_forecast_for",
          "sea_ice_concentration_mean", "sea_ice_concentration_stddev")
    },
    "gridded_ingest_hdf5_dense_ind" -> { (s, dir) =>
      // the VERY-wide-group shape: the dense-link fractal heap grows past
      // its root's direct rows, so link messages live behind an indirect
      // CHILD block (FHIB within FHIB — the recursive doubling-table
      // walk); same fixture content, same closed-form oracle
      val path = graft.sources.GridFixture.ensureWrittenH5DenseIndirect()
      Ingest.load(s.read.format("gridded").load(path))
        .select("xc_m", "yc_m", "date_forecast_generated", "date_forecast_for",
          "sea_ice_concentration_mean", "sea_ice_concentration_stddev")
    },

    "dq_check" -> { (s, dir) =>
      // declarative data-quality gate: row rules fused into one scan,
      // uniqueness as its own single-distinct aggregate, FK as the S5-style
      // anti-join. The range rule is deliberately tight so the fixture
      // produces a non-vacuous failing row.
      import graft.ops.Expectations._
      val li = Tables.lineitem(s, dir)
      val smallParts = Tables.part(s, dir).filter(col("p_size") <= 25)
      check(li, Seq(
        NotNull("l_shipdate"),
        InRange("l_quantity", 1, 30),
        Matches("l_returnflag", "^[ANR]$"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        ForeignKey(Seq("l_partkey"), smallParts, Seq("p_partkey"), "l_partkey_small")))
    },
    "snapshot_time_travel" -> { (s, dir) =>
      // snapshot versioning end to end: two commits, then a version-1 read
      // (time travel). Fresh temp root per invocation, so the result
      // depends only on the fixture, never on prior runs; the oracle
      // recomputes what v1 held.
      val root = java.nio.file.Files.createTempDirectory("graft_snap_q").toString
      val orders = Tables.orders(s, dir)
      def rollup(df: DataFrame) = df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      val v1 = graft.icenet.Snapshots.commit(s, root,
        rollup(orders.filter(col("o_totalprice") > 300000)))
      graft.icenet.Snapshots.commit(s, root, rollup(orders)) // v2 supersedes
      graft.icenet.Snapshots.read(s, root, version = Some(v1))
    },

    "snapshot_diff" -> { (s, dir) =>
      // changelog BETWEEN two snapshot versions (the inverse of CDC
      // compaction). The two rollups' key ranges overlap partially and the
      // second adds a price filter, so all three ops appear: I (new-only
      // keys), D (old-only), U (shared keys whose aggregates moved).
      val root = java.nio.file.Files.createTempDirectory("graft_snapdiff_q").toString
      val keyed = Tables.orders(s, dir).withColumn("k", col("o_orderkey") % 7)
      def rollup(df: DataFrame) = df.groupBy("k")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
      val v1 = graft.icenet.Snapshots.commit(s, root,
        rollup(keyed.filter(col("k") <= 4)))
      val v2 = graft.icenet.Snapshots.commit(s, root,
        rollup(keyed.filter(col("k") >= 2 && col("o_totalprice") > 50000)))
      graft.icenet.Snapshots.diff(s, root, v1, v2, Seq("k"))
    },

    // ---- beyond-reference: multimodal column plumbing (ops.Multimodal) ---
    "multimodal_decode" -> { (s, dir) =>
      val media = graft.ops.Multimodal.mediaFromDocuments(Tables.documents(s, dir))
      graft.ops.Multimodal.decodeBatches(media)
        .toDF().select("media_id", "kind", "n_bytes", "checksum")
    },
    "multimodal_frame_sample" -> ((s, dir) =>
      graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.mediaFromDocuments(Tables.documents(s, dir)).toDF(), 4)),
    "multimodal_batch_embed" -> ((s, dir) =>
      // batched-inference plumbing, long-form output; batch_pos is
      // partitioning-dependent and therefore spec-only (MultimodalSpec)
      graft.ops.Multimodal.embedBatches(
          graft.ops.Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .toDF()
        .select(col("media_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("media_id"), col("dim"), round(col("val"), 6).as("val"))),
    "multimodal_image_decode" -> ((s, dir) =>
      // REAL image decode (JDK ImageIO): each doc_id becomes a two-tone
      // PNG whose dims/colors are arithmetic in doc_id; the decoder must
      // really parse the PNG (inflate, filters, per-pixel reads) to
      // reproduce the oracle's arithmetic — a decode certification, not
      // a checksum replay. All-integer output, hash-exact.
      graft.ops.Multimodal.ImageCodec.decodeImages(
        graft.ops.Multimodal.pngFromDocuments(Tables.documents(s, dir)))
        .toDF()),
    "multimodal_audio_decode" -> ((s, dir) =>
      // REAL audio decode (JDK javax.sound): each doc_id becomes a mono
      // 16-bit PCM WAV whose waveform is integer arithmetic in
      // (doc_id, i); the decoder must really walk the RIFF chunks and
      // PCM frames to reproduce the oracle's amplitude/energy sums —
      // the audio twin of the PNG decode certification. Integer output.
      graft.ops.Multimodal.AudioCodec.decodeAudio(
        graft.ops.Multimodal.wavFromDocuments(Tables.documents(s, dir)))
        .toDF()),
    "multimodal_audio_windows" -> ((s, dir) =>
      // windowed audio energy (the VAD/segmentation primitive): exact
      // per-64-frame integer sums from the same real PCM decode
      graft.ops.Multimodal.AudioCodec.decodeAudioWindows(
        graft.ops.Multimodal.wavFromDocuments(Tables.documents(s, dir)))
        .toDF()),
    "multimodal_video_decode" -> ((s, dir) =>
      // REAL video decode (MJPEG-in-AVI, pure JVM): each doc_id becomes
      // an AVI of nf JPEG frames with arithmetic dims; the decoder must
      // really walk the RIFF chunk tree to exact frame boundaries and
      // read each JPEG's SOF header to reproduce the oracle's frame
      // count and dimension sums (JPEG dims are header-exact; pixel data
      // is lossy, so the certification never touches pixel sums)
      graft.ops.Multimodal.VideoCodec.decodeVideo(
        graft.ops.Multimodal.aviFromDocuments(Tables.documents(s, dir)))
        .toDF()),
    "multimodal_resize" -> ((s, dir) =>
      // REAL 2x area-average resize over really-decoded PNGs: every
      // output pixel is the truncating integer mean of its 2x2 source
      // block (floor-cropped odd edges, so all blocks are full); the
      // oracle predicts the resized channel sums from the fixture's
      // closed form — a resample certification, not a checksum replay
      graft.ops.Multimodal.ImageCodec.resizeImages(
        graft.ops.Multimodal.pngFromDocuments(Tables.documents(s, dir)))
        .toDF()),

    // ---- beyond-reference: TPC-H composite suite (Q1-Q22 shapes the -----
    // fixture schema can express; partsupp/commitdate-dependent queries
    // Q2/Q11/Q12/Q16/Q20/Q21 are out of scope by schema). Each one pins a
    // distinct plan shape the 100 TB engine must get right: partial
    // aggregation (q1), non-equi semi join (q4), dim-first join ordering
    // (q7/q8/q9), outer-join double aggregation (q13), self-join scalar
    // max (q15), pre-aggregated correlated threshold (q17), having-semi
    // fact reduction (q18), disjunctive pushdown (q19), scalar-threshold
    // anti join (q22).
    "q1_pricing_summary" -> ((s, dir) =>
      // TPC-H Q1: the map-side-combine benchmark - 8 aggregates over a
      // 6-value group space; partial aggregation collapses 600k rows to
      // 6 per task BEFORE the exchange, so the shuffle is O(tasks), not
      // O(rows), at any scale.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") <= lit("2001-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),
    "q4_priority_exists" -> { (s, dir) =>
      // TPC-H Q4 shape (l_commitdate/receiptdate absent: "late" =
      // shipped >60 days after order). EXISTS = left_semi with the
      // non-equi lateness predicate riding the orderkey hash join - the
      // probe side streams and no order row ever duplicates.
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
      val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate").cast("date") > date_add(o("o_orderdate").cast("date"), 60),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },
    "q7_volume_shipping" -> { (s, dir) =>
      // TPC-H Q7: bidirectional nation-pair trade volume. Both nation dims
      // are pre-filtered to the two names BEFORE their joins (each kills
      // ~92% of fact rows at the broadcast probe); only the cross-pair
      // disjunction - which genuinely needs both sides - runs post-join.
      val two = Seq("NATION_1", "NATION_2")
      val n1 = broadcast(Tables.nation(s, dir).filter(col("n_name").isin(two: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(s, dir).filter(col("n_name").isin(two: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date")
          .between(lit("1996-01-01").cast("date"), lit("1997-12-31").cast("date")))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nk"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(n2, col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
    },
    "q8_market_share" -> { (s, dir) =>
      // TPC-H Q8: one nation's share of PROMO-part volume into ASIA
      // customers. part is filtered 6x before its join; region/nation
      // broadcast unconditionally (bounded dims, as in q5); the share is
      // a conditional-sum ratio - one aggregate pass, no second join.
      val volume = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_type") === "PROMO")
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate").cast("date")
            .between(lit("1996-01-01").cast("date"), lit("1997-12-31").cast("date"))),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))),
          col("c_nationkey") === col("c_nk"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", volume).otherwise(lit(0.0)))
            / sum(volume), 4).as("mkt_share"))
    },
    "q9_product_profit" -> { (s, dir) =>
      // TPC-H Q9 shape (no partsupp: supply cost modeled as 60% of
      // retail price). Profit per supplier nation per year; part filter
      // first, nation broadcast, single aggregation.
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_type") === "STANDARD")
          .select("p_partkey", "p_retailprice"), col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          - lit(0.6) * col("p_retailprice") * col("l_quantity")), 4).as("sum_profit"))
    },
    "q10_returned_items" -> { (s, dir) =>
      // TPC-H Q10: top-20 customers by returned revenue in a quarter.
      // Date filter reaches the orders scan, returnflag the lineitem scan;
      // TakeOrderedAndProject caps the driver at 20 rows.
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
            col("o_orderdate").cast("date") < lit("1997-04-01").cast("date")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    },
    "q13_order_count_dist" -> { (s, dir) =>
      // TPC-H Q13: customer order-count distribution. The ON-clause
      // priority filter is applied to orders BEFORE the left join
      // (equivalent, and it shrinks the shuffled side); count(o_orderkey)
      // keeps 0-order customers via the preserved null row.
      val c = Tables.customer(s, dir).select("c_custkey")
      val o = Tables.orders(s, dir).filter(col("o_orderpriority") =!= "5-LOW")
        .select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(c("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    },
    "q14_promo_revenue" -> ((s, dir) =>
      // TPC-H Q14: promo share of one month's revenue - conditional-sum
      // ratio in a single aggregate pass over the month's scan slice.
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1997-03-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-04-01").cast("date"))
        .join(Tables.part(s, dir).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) * sum(
          when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .otherwise(lit(0.0)))
          / sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("promo_revenue"))),
    "q15_top_supplier" -> { (s, dir) =>
      // TPC-H Q15: supplier(s) with max quarterly revenue. The max rides a
      // 1-row broadcast back onto the 100-row aggregate as an EQUI join on
      // the rounded revenue (both sides from the same computed set, so
      // double equality is exact) - no window over a single partition.
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-04-01").cast("date"))
        .groupBy("l_suppkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
      Tables.supplier(s, dir)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    },
    "q17_small_quantity" -> { (s, dir) =>
      // TPC-H Q17: revenue lost to small-quantity orders of one brand.
      // The correlated per-part avg is a pre-aggregation JOINED back on
      // partkey - and it is computed only over the brand's parts (the
      // brand semi-filter is applied before BOTH consumers; semantically
      // identical, ~60x less aggregated).
      val brandParts = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#12").select("p_partkey")
      val l = Tables.lineitem(s, dir)
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val cut = l.groupBy(col("l_partkey").as("t_partkey"))
        .agg((lit(0.5) * avg(col("l_quantity"))).as("qty_cut"))
      l.join(cut, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_cut"))
        .agg(round(sum(col("l_extendedprice")) / lit(7.0), 4).as("avg_yearly"))
    },
    "q18_large_orders" -> { (s, dir) =>
      // TPC-H Q18: large-volume orders. The HAVING subquery becomes a
      // left_semi of orders against the pre-aggregated big-order keys, so
      // the 3-way join only ever sees qualifying orders.
      val l = Tables.lineitem(s, dir)
      val big = l.groupBy(col("l_orderkey").as("b_orderkey"))
        .agg(sum(col("l_quantity")).as("sq"))
        .filter(col("sq") > 150).select("b_orderkey")
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("b_orderkey"), "left_semi")
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    },
    "q19_disjunctive" -> { (s, dir) =>
      // TPC-H Q19 shape (no p_container: brand x size x quantity arms).
      // The cross-side disjunction stays on the join output; each side
      // ALSO gets its redundant per-side disjunction explicitly
      // (brand/size arms -> part scan, quantity arms -> lineitem scan) so
      // the scans prune without relying on CNF inference.
      val arm1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)
      val arm2 = col("p_brand") === "Brand#20" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)
      val arm3 = col("p_brand") === "Brand#5" && col("p_size").between(1, 50) &&
        col("l_quantity").between(20, 30)
      Tables.lineitem(s, dir)
        .filter(col("l_quantity").between(1, 11) ||
          col("l_quantity").between(10, 20) || col("l_quantity").between(20, 30))
        .join(Tables.part(s, dir).filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)) ||
            (col("p_brand") === "Brand#20" && col("p_size").between(1, 25)) ||
            (col("p_brand") === "Brand#5" && col("p_size").between(1, 50))),
          col("l_partkey") === col("p_partkey"))
        .filter(arm1 || arm2 || arm3)
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"))
    },
    "q2_min_cost_supplier" -> { (s, dir) =>
      // TPC-H Q2 shape (no partsupp: unit cost derived as each supplier's
      // average realized price). Min-cost-per-group JOIN-BACK: the
      // per-part minimum re-joins the cost table on (part, cost) equality
      // - and both the cost agg and the min run over the lineitem slice
      // already semi-filtered by the part predicate (q17's trick), not
      // the full fact table.
      val parts = Tables.part(s, dir)
        .filter(col("p_size") <= 10 && col("p_type") === "STANDARD")
        .select("p_partkey")
      val li = Tables.lineitem(s, dir)
        .join(parts, col("l_partkey") === col("p_partkey"))
      val cost = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(round(avg(col("l_extendedprice") / col("l_quantity")), 4)
          .as("unit_cost"))
      val best = cost.groupBy(col("l_partkey").as("b_partkey"))
        .agg(min(col("unit_cost")).as("min_cost_v"))
      cost
        .join(best, col("b_partkey") === col("l_partkey") &&
          col("unit_cost") === col("min_cost_v"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .orderBy(col("s_acctbal").desc, col("l_partkey").asc, col("s_name").asc)
        .limit(100)
        .select(col("l_partkey").as("p_partkey"), col("s_name"),
          col("s_acctbal"), col("n_name"), col("unit_cost").as("min_cost"))
    },
    "q11_important_stock" -> { (s, dir) =>
      // TPC-H Q11 shape (shipped value stands in for stock value): the
      // per-(nation, part) value filtered by a GLOBAL-share threshold.
      // The threshold is a 1-row broadcast over the value table's own
      // re-aggregation (reviewed BNLJ, PlanSweep allowlist).
      val value = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "l_partkey")
        .agg(round(sum(col("l_extendedprice") * col("l_quantity")), 4)
          .as("part_value"))
      // threshold = 3x the mean group value: scale-INVARIANT selectivity
      // (a fixed share of the global total goes vacuous as the group count
      // grows - measured empty at sf0.1 with the classic 0.0001 form)
      val thresh = value.agg((lit(3.0) * avg(col("part_value"))).as("thresh"))
      value.join(broadcast(thresh), col("part_value") > col("thresh"))
        .orderBy(col("part_value").desc, col("n_name").asc, col("l_partkey").asc)
        .limit(100)
        .select("n_name", "l_partkey", "part_value")
    },
    "q12_late_priority" -> { (s, dir) =>
      // TPC-H Q12 shape (no l_shipmode: classified by order priority
      // instead): late-shipment line counts per ship year, split
      // high/low priority - the conditional-count pair rides ONE
      // aggregate pass over the joined slice.
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate").cast("date") >
          date_add(col("o_orderdate").cast("date"), 90))
        .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
    },
    "q21_waiting_supplier" -> { (s, dir) =>
      // TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
      // multi-supplier finished order. The classic EXISTS + NOT EXISTS
      // pair over the same table collapses into ONE grouped pass: late
      // flags per (order, supplier), then per-order counts decide
      // "others exist" (n_supp > 1) and "no other was late" (n_late = 1)
      // - two exchanges total, no correlated re-scans of lineitem.
      val late = col("l_shipdate").cast("date") >
        date_add(col("o_orderdate").cast("date"), 90)
      val flagged = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(late, 1).otherwise(0)).as("is_late"))
      val perOrder = flagged.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"), sum(col("is_late")).as("n_late"),
          max(when(col("is_late") === 1, col("l_suppkey"))).as("late_supp"))
        .filter(col("n_supp") > 1 && col("n_late") === 1)
      perOrder
        .join(Tables.supplier(s, dir), col("late_supp") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    },
    "q22_idle_customers" -> { (s, dir) =>
      // TPC-H Q22 shape (no c_phone: "wealthy and idle" = above-average
      // balance, no order since 2000). The global avg is a 1-row
      // broadcast threshold (reviewed BNLJ, PlanSweep allowlist); the
      // idleness test is a left_anti against the date-pruned order scan.
      val c = Tables.customer(s, dir)
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("avg_bal"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("2000-01-01").cast("date"))
        .select("o_custkey")
      c.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 4).as("totacctbal"))
    },

    // ---- beyond-reference: table maintenance + sparse retrieval ----------
    "maint_compact" -> { (s, dir) =>
      // small-file compaction end to end: fragment orders into 48 tiny
      // files (the post-ingest swamp insertIgnore leaves behind), compact
      // to size-targeted orderkey-clustered files through the crash-safe
      // swap, read back through the same table path. The oracle is the
      // ORIGINAL table: compaction must change layout, never content.
      val root = java.nio.file.Files
        .createTempDirectory("graft_compact_q").toString + "/orders"
      Tables.orders(s, dir).repartition(48).write.parquet(root)
      graft.icenet.TableOps.compact(s, root,
        targetBytes = 512L * 1024, sortCols = Seq("o_orderkey"))
      graft.icenet.TableOps.read(s, root)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
    },
    "j11_range_join" -> { (s, dir) =>
      // keyless range join: clicks within +-30 min of ANY error event.
      // Naive Spark plans this BETWEEN as a nested loop (O(n*m)); the
      // binned rewrite (operators.RangeJoin) makes it a hash join on the
      // hour bin + exact verify - output-sensitive cost from stock
      // machinery (PlanGuardSpec pins no-BNLJ).
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
        .select(col("event_id"), col("event_type"), unix_millis(col("ts")).as("tms"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"),
          (col("tms") - 1800000L).as("lo"), (col("tms") + 1800000L).as("hi"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("tms"))
      graft.operators.RangeJoin
        .pointInInterval(clicks, "tms", errors, "lo", "hi", binWidth = 3600000L)
        .groupBy("error_id").agg(count(lit(1)).as("n_nearby"))
    },
    "maint_partition_stats" -> ((s, dir) =>
      // file-skipping manifest: per-ship-year min/max/null/count envelope
      // of the fact columns a planner prunes on (TableOps.partitionStats;
      // pruneCandidates consumes it - TableOpsSpec pins the skip set)
      graft.icenet.TableOps.partitionStats(
        Tables.lineitem(s, dir)
          .withColumn("ship_year", year(col("l_shipdate").cast("date")).cast("long")),
        "ship_year", Seq("l_orderkey", "l_quantity"))),
    "src_csv_roundtrip" -> { (s, dir) =>
      // text-format source surface: orders out through the CSV writer
      // (explicit microsecond timestamp render) and back through the CSV
      // reader with an EXPLICIT schema; the oracle is the ORIGINAL table
      // — the hash match certifies the format layer changes nothing
      val root = java.nio.file.Files
        .createTempDirectory("graft_csv_q").toString + "/orders_csv"
      val o = Tables.orders(s, dir)
      graft.sources.TextFormats.csvRoundTrip(o, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"))
    },
    "src_json_roundtrip" -> { (s, dir) =>
      // same contract through the JSON-lines writer/reader
      val root = java.nio.file.Files
        .createTempDirectory("graft_json_q").toString + "/orders_json"
      val o = Tables.orders(s, dir)
      graft.sources.TextFormats.jsonRoundTrip(o, root)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"))
    },
    "maint_clustering_depth" -> { (s, dir) =>
      // rewrite advisor's before-numbers: the SAME fact laid out by
      // arrival month (every file spans most of the orderkey range) vs
      // clustered by 64Ki orderkey buckets (disjoint envelopes) —
      // sweep-line depth/overlap census over O(files) events, exact
      val li = Tables.lineitem(s, dir)
      val time = li.groupBy((year(col("l_shipdate").cast("date"))
          * 100 + month(col("l_shipdate").cast("date"))).cast("long")
          .as("fid"))
        .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
        .select(lit("time_partitioned").as("layout"), col("fid"),
          col("lo"), col("hi"))
      val keyed = li.groupBy(expr("l_orderkey div 65536").as("fid"))
        .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
        .select(lit("key_clustered").as("layout"), col("fid"),
          col("lo"), col("hi"))
      graft.ops.Layout.clusteringDepth(time.unionByName(keyed))
    },
    "maint_bin_pack" -> ((s, dir) =>
      // small-files compaction planner: one file per order day (size =
      // rows*64 + 1024 exactly), date-ordered byte stream cut at 256 KiB
      // boundaries via pure prefix sum — the plan TableOps.compact would
      // execute; planning runs on the O(days) domain, never on rows
      graft.ops.Layout.compactionPlan(Tables.orders(s, dir), "o_orderdate")),
    "maint_zonemap_prune" -> ((s, dir) =>
      // layout-effectiveness study: zone-map (block min/max) pruning under
      // Z-order vs x-major clustering, quantified per probe shape — the
      // measurement a planner wants BEFORE rewriting petabytes with
      // TableOps.compact; pure integer bucketing/Morton/fixed-point so
      // DuckDB reproduces every number (its Morton twin is the 16-term
      // closed form, LayoutSpec-pinned against the native expression)
      graft.ops.Layout.zonemapPruneStudy(Tables.lineitem(s, dir),
        col("l_partkey"), col("l_suppkey"))),
    "sketch_join_size" -> ((s, dir) =>
      // planner-style join-size estimation from two O(d·w) CMS sketches
      // (inner product per row, min over rows; one-sided est >= exact,
      // certified by the oracle's identical sketches + exact join count)
      graft.ops.Sketches.cmsJoinSize(
        Tables.orders(s, dir), col("o_custkey"),
        Tables.customer(s, dir), col("c_custkey"))),
    "hier_rollup" -> { (s, dir) =>
      // hierarchy analytics without recursive CTEs: parts as a synthetic
      // binary tree (parent = key div 2), per-node depth + subtree
      // count/sum via pointer-jumping ancestor closure (O(log depth)
      // rounds — Hierarchy.scaladoc). DuckDB's recursive CTE is the
      // oracle; decimal sums keep the rollup engine-exact.
      val part = Tables.part(s, dir)
      val nodes = part.select(col("p_partkey").as("node"),
        col("p_retailprice").cast("decimal(18,2)").as("value"))
      val edges = part.select(col("p_partkey").as("node"),
        expr("p_partkey div 2").as("parent")).filter(col("parent") >= 1)
      // validate=false (r14): parent = key div 2 is a FUNCTION of the key,
      // so the single-parent contract holds by construction — the
      // multi-parent census would be one more sequential job on a query
      // whose cost is its job chain, proving a tautology.
      graft.ops.Hierarchy.subtreeRollup(nodes, edges,
        Some(graft.ops.Hierarchy.ancestorClosure(edges, validate = false)))
        .withColumnRenamed("node", "p_partkey")
    },
    "hier_distinct_rollup" -> { (s, dir) =>
      // hierarchy x sketch composition: distinct customers per SUBTREE.
      // Distinct counts can't sum up a tree (a customer bought in two
      // branches must count once at the ancestor); mergeable KMV sketches
      // can — per-node O(k) sketches merge along the ancestor closure,
      // so the rollup never touches raw rows twice. Closure fan-out is
      // O(n·depth·k) sketch entries (depth ≤ a few dozen in any real
      // hierarchy); the estimate is certified by the oracle building the
      // same bottom-k from all hashes directly (the KMV merge property).
      val part = Tables.part(s, dir)
      val cust = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("node"), col("l_orderkey"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
          "l_orderkey")
        .select(col("node"), graft.ops.Sketches.hash60(col("o_custkey"))
          .as("hv"))
      // pinned exchange (Spread): the per-row KMV insert is CPU-heavy and
      // the (node, hv) shuffle is bytes-small, so AQE coalesced the sketch
      // build to 3 tasks at sf0.1 (StageProf, r13)
      val perNode = graft.ops.Spread.byKey(cust, col("node"))
        .groupBy("node")
        .agg(graft.functions.KmvAggregate.kmv(col("hv"), 64).as("sk"))
      val edges = part.select(col("p_partkey").as("node"),
        expr("p_partkey div 2").as("parent")).filter(col("parent") >= 1)
      // validate=false (r14): parent = key div 2 — single-parent by
      // construction, same justification as hier_rollup above
      val pairs = graft.ops.Hierarchy.ancestorClosure(edges, validate = false)
        .select(col("node"), col("anc"))
        .unionByName(part.select(col("p_partkey").as("node"),
          col("p_partkey").as("anc")))
      graft.ops.Spread.byKey(pairs.join(perNode, "node"), col("anc"))
        .groupBy("anc")
        // array-input merge: O(pairs) rows into the aggregate, not the
        // O(pairs × k) explode (measured 28 s → 9 s at sf1, BASELINE.md);
        // merge exchange pinned (Spread) — the per-row 64-entry sketch
        // merge is CPU-heavy, AQE ran it at 4 tasks
        .agg(graft.functions.KmvAggregate.kmvMerge(col("sk"), 64).as("sk"))
        .select(col("anc").as("p_partkey"),
          graft.ops.Sketches.kmvEstimate(col("sk"), 64)
            .as("est_distinct_customers"),
          size(col("sk")).cast("long").as("sketch_size"))
    },
    "maint_reconcile" -> { (s, dir) =>
      // merkle-style replica repair: left = orders as-is; right = a
      // drifted copy (deletes at k%101, payload edits at k%97, inserts at
      // k%103 shifted by 10M). Reconcile must recover the EXACT row-level
      // diff while shuffling only dirty-bucket rows — the oracle computes
      // the true diff directly, certifying the bucket pruning lost nothing.
      val base = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        concat_ws("#", col("o_orderstatus"),
          col("o_custkey").cast("string")).as("payload"))
      val kept = base.filter(col("k") % 101 =!= 0)
        .withColumn("payload", when(col("k") % 97 === 0,
          concat(col("payload"), lit("!"))).otherwise(col("payload")))
      val inserts = base.filter(col("k") % 103 === 0)
        .select((col("k") + lit(10000000L)).as("k"),
          concat(lit("NEW#"), col("k").cast("string")).as("payload"))
      graft.ops.Reconcile.reconcile(base, kept.unionByName(inserts),
        "k", "payload", nBuckets = 256)
    },
    "text_bm25" -> ((s, dir) =>
      // sparse retrieval: BM25 top-20 against a fixed query-term set
      // (TextAnalysis.bm25 - one doc_id exchange + bounded broadcasts)
      graft.ops.TextAnalysis.bm25(Tables.documents(s, dir),
        Seq("spark", "window", "merge"))),
    "text_chunk" -> ((s, dir) =>
      // RAG chunking: 32-token windows every 24 tokens, zero shuffles
      graft.ops.TextAnalysis.chunkDocuments(Tables.documents(s, dir))),
    "q20_excess_stock" -> { (s, dir) =>
      // TPC-H Q20 shape (lineitem stands in for partsupp): the 1995 "stock
      // year" aggregate per (part, supplier) plays ps_availqty; the
      // correlated agg-subquery (half of 1996 demand per the same keys)
      // attaches by equi-join on BOTH keys — an empty demand group yields
      // no row, matching the scalar-subquery NULL-comparison semantics —
      // and the qualifying supplier set semi-joins into supplier, which
      // then equi-joins the broadcast nation dim. Nothing here is a
      // cartesian: the correlation keys become shuffle keys, so the plan
      // is two co-keyed aggregates + one join per level at any scale.
      val li = Tables.lineitem(s, dir)
      val larges = Tables.part(s, dir)
        .filter(col("p_name").startsWith("large")).select("p_partkey")
      val avail = li
        .filter(col("l_shipdate").cast("date") >= lit("1995-01-01").cast("date")
          && col("l_shipdate").cast("date") < lit("1996-01-01").cast("date"))
        .join(larges, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("avail_qty"))
      val demand = li
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date")
          && col("l_shipdate").cast("date") < lit("1997-01-01").cast("date"))
        .join(larges, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg((sum("l_quantity") * 0.5).as("half_qty"))
      val excess = avail.join(demand, Seq("l_partkey", "l_suppkey"))
        .filter(col("avail_qty") > col("half_qty"))
        .select("l_suppkey").distinct()
      val nations = broadcast(Tables.nation(s, dir)
        .filter(col("n_name").isin((0 to 4).map(i => s"NATION_$i"): _*))
        .select("n_nationkey"))
      Tables.supplier(s, dir)
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(nations, col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
    },
    "q16_parts_suppliers" -> { (s, dir) =>
      // TPC-H Q16 shape (lineitem stands in for partsupp): distinct
      // supplier count per part attribute group, suppliers on the
      // "complaints" list (negative balance) excluded via NOT IN =
      // left_anti; the distinct rides the group-by exchange.
      val negSupp = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#12" &&
            col("p_size").isin(1, 5, 9, 14, 23))
          .select("p_partkey", "p_brand", "p_type", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .join(negSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
    "w8_dist_functions" -> ((s, dir) =>
      // value-based rank family: percent_rank/cume_dist/dense_rank are
      // tie-stable (depend on the VALUE ordering, not row order), so they
      // are deterministic under an order-by with duplicates - unlike
      // row_number, which needs the full tiebreak (w1's fix)
      Tables.customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment"),
        round(percent_rank().over(
          Window.partitionBy("c_mktsegment").orderBy("c_acctbal")), 6).as("pct_rank"),
        round(cume_dist().over(
          Window.partitionBy("c_mktsegment").orderBy("c_acctbal")), 6).as("cume"),
        dense_rank().over(
          Window.partitionBy("c_mktsegment").orderBy("c_acctbal"))
          .cast("long").as("drank"))),
    "w9_value_windows" -> { (s, dir) =>
      // value-position window family: first/last/nth over a per-customer
      // full frame (last/nth REQUIRE the unbounded-following frame - the
      // default running frame silently returns the current row instead,
      // the classic window bug this query pins cross-engine)
      val ordered = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val full = ordered.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"),
        first(col("o_totalprice")).over(ordered).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_price"))
    },
    "p14_array_funcs" -> ((s, dir) =>
      // higher-order array surface over the token arrays: distinct,
      // lambda filter, transform-sum, intersect, existential - all
      // narrow, all expressible in DuckDB's list_* family (counts and
      // flags only: element ORDER of set-like results is engine-specific)
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ops.TextAnalysis.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          size(array_distinct(col("t"))).as("n_distinct"),
          size(filter(col("t"), x => length(x) > 4)).as("n_long"),
          aggregate(transform(col("t"), x => length(x).cast("long")),
            lit(0L), (acc, x) => acc + x).as("total_chars"),
          size(array_intersect(col("t"),
            array(lit("spark"), lit("data"), lit("table")))).as("n_kw"),
          exists(col("t"), x => length(x) > 7).as("has_long"))),
    "a12_cube" -> ((s, dir) =>
      // full CUBE lattice over the two lineitem flags: all four grouping
      // sets in one Expand pass - the OLAP rollup surface beyond
      // a6_rollup's hierarchy and a9's explicit sets
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))),

    // ---- round 6b: feature scaling, dependence stats, curation policy ----
    "feat_standardize" -> ((s, dir) =>
      // per-group z-score: O(groups) stats broadcast onto a narrow clamp
      graft.ops.Features.standardize(Tables.lineitem(s, dir),
        "l_returnflag", "l_extendedprice",
        idCols = Seq("l_orderkey", "l_linenumber"))),
    "feat_robust_scale" -> ((s, dir) =>
      // median/IQR scaling - the outlier-insensitive standardization
      graft.ops.Features.robustScale(Tables.lineitem(s, dir),
        "l_returnflag", "l_extendedprice",
        idCols = Seq("l_orderkey", "l_linenumber"))),
    "ts_interpolate" -> { (s, dir) =>
      // linear interpolation across calendar gaps (vs gap_fill's
      // step/carry-forward) on the same sparse daily rollup
      val daily = graft.streaming.EventAggs
        .dailyUserRollup(Tables.events(s, dir))
        .filter(col("user_id") % 20 === 0)
      graft.ops.Temporal.interpolate(daily, "user_id", "d", "n_events")
    },
    "stat_mutual_info" -> ((s, dir) =>
      // does event_type carry information about the JSON device field -
      // the leakage/feature-dependence probe in nats
      graft.ops.Stats.mutualInfo(
        Tables.events(s, dir).withColumn("device",
          get_json_object(col("props"), "$.device")),
        "event_type", "device")),
    "stat_chi_square" -> ((s, dir) =>
      graft.ops.Stats.chiSquare(
        Tables.events(s, dir).withColumn("device",
          get_json_object(col("props"), "$.device")),
        "event_type", "device")),
    "stat_corr_matrix" -> ((s, dir) =>
      // all pairwise correlations in ONE scan (fused corr aggregates)
      graft.ops.Stats.corrMatrix(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    "dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // pick each MinHash cluster's longest member - the keep/drop
      // decision step after clustering; the clustering itself is the
      // memoized artifact dedup_components also serves
      graft.ops.Dedup.keepBest(docs,
        graft.ops.Dedup.dedupArtifactsFor(dir, docs).components)
    }),
    "dedup_containment" -> ((s, dir) =>
      // one-sided n-gram containment: catches near-supersets that
      // Jaccard's union-normalization hides
      graft.ops.Dedup.containmentPairs(Tables.documents(s, dir))),
    "curate_token_budget" -> ((s, dir) =>
      // best docs by quality until the token budget is spent
      graft.ops.TextAnalysis.tokenBudget(Tables.documents(s, dir),
        budget = 20000L)),
    "mix_temperature" -> ((s, dir) =>
      // p_i ~ n_i^0.5 source flattening - the multilingual mixing formula
      graft.ops.TextAnalysis.mixTemperature(Tables.documents(s, dir))),
    "text_normalize" -> ((s, dir) =>
      // canonical lowercase/punct-strip normalization + md5 dedup key
      graft.ops.TextAnalysis.normalize(Tables.documents(s, dir))),
    "vocab_top_p" -> ((s, dir) =>
      // nucleus vocabulary cutoff at half the corpus token mass
      graft.ops.TextAnalysis.vocabTopP(Tables.documents(s, dir))),
    "events_retention" -> ((s, dir) =>
      // cohort retention triangle: first-seen date x day offset
      graft.streaming.EventAggs.retention(Tables.events(s, dir))),
    "events_paths" -> ((s, dir) =>
      // most frequent 3-step behavioral paths per user stream
      graft.streaming.EventAggs.topPaths(Tables.events(s, dir))),
    "j12_salted_join" -> ((s, dir) => {
      // the SkewJoin salting escape hatch, oracle-certified: the salted
      // plan must produce EXACTLY the plain join's rows (the salt spreads
      // the maximally-skewed event_type key over 8 reducers and then
      // vanishes)
      val events = Tables.events(s, dir)
        .filter(col("event_type").isNotNull)
        .select(col("event_id"), col("event_type"))
      val dim = events.select(col("event_type")).distinct()
        .withColumn("type_len", length(col("event_type")))
      operators.SkewJoin.saltedInnerJoin(events, dim, Seq("event_type"))
    }),
    "sketch_cms_heavy" -> ((s, dir) =>
      // count-min sketch frequency estimates for the hottest keys,
      // certified one-sided (est >= exact) against the exact counts
      graft.ops.Sketches.cmsHeavyHitters(
        Tables.events(s, dir), "user_id")),
    "sketch_mg_heavy" -> ((s, dir) =>
      // Misra–Gries frequent items over a skewed key (75% of rows on 32
      // hot keys, 25% on the ~|part| cold tail): the summary's
      // merge-order-INVARIANT no-false-negative guarantee feeds a
      // candidate-filtered exact pass, so the output — the true heavy
      // hitters above N/(k+1) — is deterministic and the oracle is a
      // plain GROUP BY ... HAVING
      graft.ops.Sketches.mgHeavyHitters(
        Tables.lineitem(s, dir),
        when(col("l_orderkey") % 4 < 3, col("l_partkey") % 32)
          .otherwise(col("l_partkey") + 1000000L))),
    "sketch_mg_grouped" -> ((s, dir) =>
      // per-SEGMENT heavy hitters (the billions-of-groups shape): the
      // MG aggregate runs under groupBy(returnflag) at O(k) state per
      // group; per-group candidates semi-join back for the exact,
      // deterministic read-out — oracle = GROUP BY (grp, key) HAVING
      graft.ops.Sketches.mgHeavyHittersGrouped(
        Tables.lineitem(s, dir), col("l_returnflag"),
        when(col("l_orderkey") % 4 < 3, col("l_partkey") % 32)
          .otherwise(col("l_partkey") + 1000000L))),
    "incr_mg_maintain" -> ((s, dir) =>
      // incrementally-maintained heavy hitters: the standing summary
      // (90% of rows) merges a delta batch's summary (10%) at O(k)
      // state; only the merged candidates are exact-verified. Oracle =
      // full recompute over the union (the incr_agg_merge discipline)
      graft.ops.Sketches.mgHeavyHittersIncremental(
        Tables.lineitem(s, dir),
        when(col("l_orderkey") % 4 < 3, col("l_partkey") % 32)
          .otherwise(col("l_partkey") + 1000000L),
        col("l_orderkey") % 10 === 0)),
    "dedup_semantic" -> ((s, dir) => {
      // SemDeDup-style: embedding near-dup pairs -> transitive clusters
      // -> keep the min-id representative per cluster
      val comps = graft.ops.Dedup.connectedComponents(
        // CellLadder blocking (C^2 >= n): the sf10 rung measured the
        // fixed-16 pair join at ~50x for 10x data; same metric and
        // threshold, only the blocking scales (dedup_embedding_adaptive)
        graft.ops.Dedup.embeddingNearDupsAdaptive(Tables.embeddings(s, dir))
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      comps.select(col("doc_id").as("vec_id"), col("comp"),
        (col("doc_id") === col("comp")).as("is_kept"))
    }),
    "retrieval_rank_fusion" -> ((s, dir) =>
      // reciprocal-rank fusion of the BM25 pool and the quality-prior
      // pool — both TakeOrdered exits, so the fusion touches O(poolK)
      // rows however large the corpus
      graft.ops.Retrieval.rankFusion(Tables.documents(s, dir),
        Seq("spark", "window", "merge"))),
    "retrieval_stopwords" -> ((s, dir) =>
      // corpus-driven stopword induction: document-frequency ratio >= 0.4
      graft.ops.Retrieval.stopwordInduction(Tables.documents(s, dir))),
    "retrieval_wand" -> ((s, dir) =>
      // WAND upper-bound pruned BM25 top-10: provably lossless prune
      // (subset threshold + per-term max-impact bound), so the output —
      // and the oracle — is exactly the unpruned BM25 top-k
      graft.ops.Retrieval.wandTopK(Tables.documents(s, dir),
        Seq("join", "scan", "filter", "slow"))),
    "retrieval_phrase_search" -> ((s, dir) =>
      // positional-index collocation mining: top bigrams via the index
      // self-joined on (doc_id, pos+1) — one co-partitioned equi-join,
      // never a text re-scan; fully deterministic tie chain. phraseSearch
      // (n-token contiguous match over the same index) is RetrievalSpec-
      // pinned on hand-planted phrases
      graft.ops.Retrieval.topBigrams(Tables.documents(s, dir), k = 3)),
    "retrieval_proximity" -> ((s, dir) =>
      // the ranking signal between exact phrase and bag-of-words: docs
      // holding both terms ranked by minimum token gap over the same
      // one-shuffle positional-index join as phrase search
      graft.ops.Retrieval.proximitySearch(
        Tables.documents(s, dir), "scan", "join")),
    "retrieval_range_search" -> ((s, dir) =>
      // radius query: ALL neighbors with cosine >= 0.3, IVF-blocked so
      // each query scans 1/C of the corpus
      graft.ops.Retrieval.rangeSearch(Tables.embeddings(s, dir))),
    "retrieval_inverted_index" -> ((s, dir) =>
      // token -> sorted posting list + aligned tfs; df computed BEFORE the
      // collect so stopword-scale lists never materialize
      graft.ops.Retrieval.invertedIndex(Tables.documents(s, dir))),
    "sim_knn_classify" -> ((s, dir) =>
      // majority-vote label prediction over each query's top-5 neighbors,
      // scored against the query's own label
      graft.ops.Similarity.knnClassify(Tables.embeddings(s, dir))),
    "stat_ols" -> ((s, dir) =>
      // per-returnflag OLS of extendedprice on quantity from one grouped
      // co-moment pass
      graft.ops.Stats.groupedOls(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity", "l_extendedprice")),
    "stat_ab_delta" -> ((s, dir) =>
      // ratio-metric A/B z-test, delta-method variance over user-level sums
      graft.ops.Stats.abDeltaTest(Tables.events(s, dir))),
    "feat_target_encode" -> ((s, dir) =>
      // smoothed mean-target encoding table per event_type (alpha = 20)
      graft.ops.Features.targetEncode(Tables.events(s, dir),
        "event_type", "value")),
    "feat_target_encode_cv" -> ((s, dir) =>
      // the LEAKAGE-FREE variant production pipelines use: out-of-fold
      // means per (category, md5 fold), out-of-fold smoothing prior —
      // a row never sees its own target
      graft.ops.Features.targetEncodeCv(Tables.events(s, dir),
        "event_type", "value", "event_id")),
    "curate_curriculum" -> ((s, dir) =>
      // round-robin-by-quality training order: rank-in-source via ONE
      // GlobalRowNumber pass + O(sources) offsets, interleave as arithmetic
      graft.ops.TextAnalysis.curriculumOrder(Tables.documents(s, dir))),
    "text_negative_samples" -> ((s, dir) =>
      // unigram^0.75 negative sampling: integer CDF + binned range join
      graft.ops.TextAnalysis.negativeSamples(Tables.documents(s, dir))),
    "feat_woe_binning" -> ((s, dir) =>
      // decile weight-of-evidence of event value against the purchase label
      graft.ops.Features.woeBinning(
        Tables.events(s, dir).withColumn("is_purchase",
          col("event_type") === "purchase"),
        "value", "is_purchase")),
    "events_markov" -> ((s, dir) =>
      // Laplace-smoothed event-type transition matrix over user sequences
      graft.streaming.EventAggs.markovTransitions(Tables.events(s, dir))),
    "sim_recall_report" -> ((s, dir) =>
      // per-query recall@3 of the IVF index against the brute ground truth
      graft.ops.Similarity.recallReport(Tables.embeddings(s, dir))),
    "sim_recall_report_mips" -> ((s, dir) => {
      // recall@5 of the MIPS scale path vs the exact anchor, as a gate
      // row: a probing regression fails certification, not just a spec
      val emb = Tables.embeddings(s, dir)
      graft.ops.Similarity.mipsRecallReport(emb,
        nCentroids = graft.ops.Similarity.adaptiveCellCount(emb.count()))
    }),
    "feat_cdf_table" -> ((s, dir) =>
      // per-returnflag empirical CDF of quantity over the (group, value)
      // aggregate — O(distinct values) windows, never O(rows)
      graft.ops.Features.cdfTable(Tables.lineitem(s, dir),
        "l_returnflag", "l_quantity")),
    "text_keywords" -> ((s, dir) =>
      // per-doc top-3 TF-IDF keywords (WindowGroupLimit rank filter)
      graft.ops.TextAnalysis.keywords(Tables.documents(s, dir))),
    "events_rfm" -> ((s, dir) =>
      // quartile-scored recency/frequency/monetary user segments
      graft.streaming.EventAggs.rfmSegments(Tables.events(s, dir))),
    "stat_bootstrap_diff" -> ((s, dir) =>
      // the A/B form: md5-armed users, both arms' replicate sums from ONE
      // conditional aggregate; diff CI = order stats over the B rows
      graft.ops.Stats.bootstrapDiff(Tables.events(s, dir))),
    "stat_bootstrap" -> ((s, dir) =>
      // Poisson bootstrap of mean event value: B=100 md5-seeded replicate
      // weights per row, map-side-combined to 100 groups — the
      // resampling CI whose exchange never carries the corpus
      graft.ops.Stats.bootstrapMean(Tables.events(s, dir))),
    "stat_jackknife" -> ((s, dir) =>
      // one-pass block-jackknife SE of mean extendedprice over 20 md5 blocks
      graft.ops.Stats.blockJackknife(
        Tables.lineitem(s, dir).withColumn("rid",
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string"))),
        "rid", "l_extendedprice")),
    "stat_power" -> ((s, dir) =>
      // users/arm to detect a 2% ratio-metric lift at alpha .05 / power .8
      graft.ops.Stats.powerAnalysis(Tables.events(s, dir))),
    "events_stickiness" -> ((s, dir) =>
      // DAU over trailing-7-day WAU via the explode-forward distinct trick
      graft.streaming.EventAggs.stickiness(Tables.events(s, dir))),
    "curate_dataset_card" -> ((s, dir) =>
      // one-row release summary: volume, composition, quality, dup rate
      graft.ops.TextAnalysis.datasetCard(Tables.documents(s, dir))),
    "events_attr_linear" -> ((s, dir) =>
      // equal-split multi-touch credit inside the 7-day lookback, exact
      // e6 fixed point (1e6 div n per touch) — no double ever split
      graft.streaming.EventAggs.multiTouchAttribution(
        Tables.events(s, dir), model = "linear")),
    "events_attr_ushaped" -> ((s, dir) =>
      // position-based 40/20/40: first and last 400000, middles split
      // 200000 div (n-2); 1- and 2-touch paths degenerate per standard
      graft.streaming.EventAggs.multiTouchAttribution(
        Tables.events(s, dir), model = "u_shaped")),
    "events_attribution" -> ((s, dir) =>
      // last-touch credit: each purchase joined as-of to the user's
      // latest preceding touch (AsOfJoin; same-ts touches deduped arg-max)
      graft.streaming.EventAggs.lastTouchAttribution(Tables.events(s, dir))),
    "events_changepoint" -> ((s, dir) =>
      // CUSUM level-shift scan over the daily event-count series
      graft.streaming.EventAggs.changepoint(Tables.events(s, dir))),
    "graph_degrees" -> ((s, dir) =>
      // co-purchase degree histogram + Hill power-law tail index
      graft.ops.Graph.degreeStatsOf(
        graft.ops.Graph.coPurchaseEdgesFor(dir, Tables.lineitem(s, dir)))),
    "stat_km_survival" -> ((s, dir) =>
      // Kaplan-Meier purchase-lifetime curve; quiet >7d before the purchase
      // horizon = churned (full event log has no quiet users — vacuous)
      graft.ops.Stats.kaplanMeier(
        Tables.events(s, dir).filter(col("event_type") === "purchase"))),
    "stat_gini" -> ((s, dir) =>
      // spend-concentration Gini over per-user totals (GlobalRowNumber rank)
      graft.ops.Stats.gini(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .groupBy("user_id").agg(sum("value").as("x")),
        "x")),
    "dq_benford" -> ((s, dir) =>
      // Benford first-digit audit of extendedprice (string-exact digits)
      graft.ops.Expectations.benfordDigits(
        Tables.lineitem(s, dir), "l_extendedprice")),
    "ts_ewma" -> ((s, dir) =>
      // truncated-kernel EWMA of each user's value series (span 8, a=.5)
      graft.ops.Temporal.ewma(
        Tables.events(s, dir), "user_id", "ts", "event_id", "value")),
    "stat_lorenz" -> ((s, dir) =>
      // decile shares of per-user spend (the Gini's distributional detail)
      graft.ops.Stats.lorenz(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .groupBy("user_id").agg(sum("value").as("x")),
        "x")),
    "events_ltv" -> ((s, dir) =>
      // cohort lifetime-value curve: cumulative revenue per signup cohort
      graft.streaming.EventAggs.ltvCurve(Tables.events(s, dir))),
    "events_user_snapshot" -> ((s, dir) =>
      // per-user model features: recency, 7/28d frequency, value, breadth
      graft.streaming.EventAggs.userSnapshot(Tables.events(s, dir))),
    "ts_theil_sen" -> ((s, dir) =>
      // robust trend of the daily event-count series: the median pairwise
      // slope as an EXACT rational (med_dy, med_dx) + the identical-bits
      // slope double; pair expansion over the bounded day domain, ranking
      // via GlobalRowNumber — a single outlier day cannot move it
      graft.ops.Temporal.theilSen(
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt")),
        "day", "cnt")),
    "text_collocations" -> ((s, dir) =>
      // top-20 adjacent word pairs by exact-integer lift (the PMI order
      // without the log): one tokenization pass, marginals re-aggregate
      // the bigram table, total is a 1-row broadcast
      graft.ops.TextAnalysis.collocations(Tables.documents(s, dir))),
    "ts_twa" -> ((s, dir) =>
      // time-weighted average event value per user: exact BIGINT
      // epoch-microsecond holding weights from one lead window, the
      // grouped aggregate reuses the same exchange; single-sample users
      // yield NULL, never NaN
      graft.ops.Temporal.timeWeightedAvg(
        Tables.events(s, dir), "user_id", "ts", "value", "event_id")),
    "fifo_allocation" -> { (s, dir) =>
      // FIFO lot matching without iteration: returns consume shipped
      // lots per part in strict ship order via two cumulative windows
      // and one interval-overlap join; output is the bounded
      // lots-per-return distribution with exact BIGINT quantities
      val li = Tables.lineitem(s, dir)
      val cols = Seq(col("l_partkey"), col("l_quantity"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      graft.ops.Temporal.fifoAllocate(
        li.filter(col("l_returnflag") =!= "R").select(cols: _*),
        li.filter(col("l_returnflag") === "R").select(cols: _*),
        "l_partkey", "l_quantity",
        Seq("l_shipdate", "l_orderkey", "l_linenumber"))
    },
    "ts_acf" -> ((s, dir) =>
      // autocorrelation of the daily event-count series at lags 1..7
      graft.ops.Temporal.acf(
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("double").as("cnt")),
        "day", "cnt")),
    "ts_seasonal" -> ((s, dir) =>
      // STL-lite: 7-day centered trend, day-of-week seasonal, residual
      graft.ops.Temporal.seasonalDecompose(
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).cast("double").as("cnt")),
        "day", "cnt")),
    "dq_k_anonymity" -> ((s, dir) =>
      // re-identification risk of (lang, source, size-bucket) quasi-ids
      graft.ops.Expectations.kAnonymity(
        Tables.documents(s, dir)
          .withColumn("sz", expr("n_chars div 200")),
        Seq("lang", "source", "sz"), k = 5)),
    "dq_l_diversity" -> ((s, dir) =>
      // k-anonymity's companion: (lang, source) groups whose size-bucket
      // diversity falls below l=3 — large groups can still expose the
      // sensitive attribute when every member shares one value
      graft.ops.Expectations.lDiversity(
        Tables.documents(s, dir)
          .withColumn("sz", expr("n_chars div 200")),
        Seq("lang", "source"), "sz", l = 3)),
    "dq_t_closeness" -> ((s, dir) =>
      // the release-risk triad's third leg: (lang, source) groups whose
      // size-bucket DISTRIBUTION sits further than t=1/5 from the global
      // one (ordered-EMD) — k-large, l-diverse groups can still leak this
      // way; exact integer EMD, no double ever formed
      graft.ops.Expectations.tCloseness(
        Tables.documents(s, dir)
          .withColumn("sz", expr("n_chars div 200")),
        Seq("lang", "source"), "sz", tNum = 1, tDen = 5)),
    "dq_profile_drift" -> { (s, dir) =>
      // release-gate profile drift: pre-1997 orders as the reference
      // snapshot vs the rest — null rate and NDV per declared column,
      // integer NDV band, identical-double null-rate alarm
      val o = Tables.orders(s, dir)
      val cut = col("o_orderdate").cast("date") < lit("1997-01-01")
        .cast("date")
      graft.ops.Expectations.profileDrift(
        o.filter(cut), o.filter(!cut),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey",
          "o_totalprice"))
    },
    "dp_count_release" -> ((s, dir) =>
      // the release step after the k/l/t screens: per-nation customer
      // counts with md5-seeded DISCRETE Laplace (two-sided geometric)
      // integer noise — the CDF boundary table is one Scala constant
      // embedded in both engines, so the draw is a count of engine-exact
      // double comparisons (no cross-engine logarithm anywhere)
      graft.ops.Expectations.dpCountRelease(
        Tables.customer(s, dir).select(col("c_nationkey")),
        Seq("c_nationkey"), epsilon = 1.0)),
    "dp_quantile_release" -> ((s, dir) =>
      // exponential-mechanism median over the DECLARED [1,50] quantity
      // domain, base ρ = 1/2 so every weight is an integer power of two
      // (no libm in either engine); ε = 4·ln2 by the 2·Δu·ln(1/ρ)
      // accounting with Δu = 2
      graft.ops.Expectations.dpQuantileRelease(
        Tables.lineitem(s, dir), col("l_quantity"), 1, 50)),
    "eval_confusion" -> ((s, dir) =>
      // thresholded confusion report of "first embedding dim predicts
      // label < 5": one scan, all threshold cells as conditional sums,
      // accuracy/precision/recall/F1 as exact half-up ratios
      graft.ops.Eval.confusionReport(
        Tables.embeddings(s, dir).select(
          expr("CAST(CAST(embedding[0] AS DOUBLE) * 10000.0 AS BIGINT)")
            .as("score"),
          when(col("label") < 5, 1L).otherwise(0L).as("y")),
        "score", "y", Seq(-2000L, -1000L, 0L, 1000L, 2000L))),
    "eval_auc" -> ((s, dir) =>
      // exact midrank Mann-Whitney AUC of the quantized score against
      // label < 5 — ties half-credited, pure BIGINT; the ordered pass
      // runs on the bounded quantized domain, never on rows
      graft.ops.Eval.aucQuantized(
        Tables.embeddings(s, dir).select(
          expr("CAST(CAST(embedding[0] AS DOUBLE) * 10000.0 AS BIGINT)")
            .as("score"),
          when(col("label") < 5, 1L).otherwise(0L).as("y")),
        "score", "y")),
    "eval_calibration" -> ((s, dir) =>
      // reliability diagram: the quantized score shifted into e4
      // probability units, 10 equal-width bins, mean predicted vs
      // observed rate per bin — all integer div + exact ratios
      graft.ops.Eval.calibrationBins(
        Tables.embeddings(s, dir).select(
          expr("greatest(least(CAST(CAST(embedding[0] AS DOUBLE) * " +
            "10000.0 AS BIGINT) + 5000, 10000), 0)").as("p"),
          when(col("label") < 5, 1L).otherwise(0L).as("y")),
        "p", "y")),
    "eval_brier" -> ((s, dir) =>
      // proper scoring rule over the same e4 probability: exact BIGINT
      // squared-error numerator, the mean as ONE double division (the
      // e6 fixed-point rendering overflows near 1M rows)
      graft.ops.Eval.brierScore(
        Tables.embeddings(s, dir).select(
          expr("greatest(least(CAST(CAST(embedding[0] AS DOUBLE) * " +
            "10000.0 AS BIGINT) + 5000, 10000), 0)").as("p"),
          when(col("label") < 5, 1L).otherwise(0L).as("y")),
        "p", "y")),
    "eval_kappa" -> ((s, dir) =>
      // Cohen's kappa between "score >= 0" and "label < 5" as two binary
      // raters: 2x2 census in one scan, chance-corrected agreement as
      // ONE double division of exact BIGINTs (kappa can be negative —
      // no fixed-point truncation convention to pin)
      graft.ops.Eval.cohensKappa(
        Tables.embeddings(s, dir).select(
          when(expr("CAST(CAST(embedding[0] AS DOUBLE) * 10000.0 " +
            "AS BIGINT)") >= 0L, 1L).otherwise(0L).as("a"),
          when(col("label") < 5, 1L).otherwise(0L).as("b")),
        "a", "b")),
    "label_majority" -> ((s, dir) =>
      // majority vote over 3 synthetic annotators (label_k(d) =
      // (d*(k+3)+k) % 5) with the pinned most-votes-then-smallest-label
      // tie rule; per-vote census + unanimity share — the all-distinct
      // 3-way ties exercise the tie rule on every run
      graft.ops.Eval.majorityVote(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(array(lit(0L), lit(1L), lit(2L))).as("k"))
          .select(col("doc_id"),
            expr("(doc_id * (k + 3) + k) % 5").as("label")),
        "doc_id", "label")),
    "label_annotator_accuracy" -> ((s, dir) =>
      // rater-quality screen: per-annotator agreement with the pinned
      // majority vote over the same 3 synthetic annotators — one keyed
      // join of the O(items) consensus onto the annotation table, exact
      // ratios
      graft.ops.Eval.annotatorAccuracy(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(array(lit(0L), lit(1L), lit(2L))).as("k"))
          .select(col("doc_id"), col("k"),
            expr("(doc_id * (k + 3) + k) % 5").as("label")),
        "doc_id", "k", "label")),
    "eval_ece" -> ((s, dir) =>
      // one-number calibration alarm: the weighted per-bin gap
      // telescopes to an exact BIGINT numerator (n_b·|gap| =
      // |Σp − 1e4·pos|/1e4), presented via one double division
      graft.ops.Eval.calibrationError(
        Tables.embeddings(s, dir).select(
          expr("greatest(least(CAST(CAST(embedding[0] AS DOUBLE) * " +
            "10000.0 AS BIGINT) + 5000, 10000), 0)").as("p"),
          when(col("label") < 5, 1L).otherwise(0L).as("y")),
        "p", "y")),
    "eval_mrr" -> ((s, dir) =>
      // per-class MRR of the first same-label neighbor in brute top-10:
      // reciprocal ranks exact over LCM(1..10)=2520; corpus never
      // shuffled (bounded top-k pair broadcasts, knnClassify pattern)
      graft.ops.Eval.mrrSameLabel(Tables.embeddings(s, dir))),
    "eval_pass_at_k" -> ((s, dir) =>
      // pass@5 (Chen et al. unbiased estimator) over synthetic per-doc
      // trials: problem = doc_id % 20, correct = len(text) % 3 == 0 —
      // exact falling-factorial ratio per problem, no floated binomial
      graft.ops.Eval.passAtK(
        Tables.documents(s, dir).select(
          (col("doc_id") % 20).as("problem"),
          when(length(col("text")) % 3 === 0, 1L).otherwise(0L)
            .as("correct")),
        "problem", "correct", k = 5)),
    "label_krippendorff" -> ((s, dir) =>
      // Krippendorff's alpha (nominal, fixed 3-rater panel) over the
      // label_majority annotator fixture — the >2-rater reliability
      // coefficient kappa can't express; exact BIGINT Do/De census,
      // alpha as one double division (it can be negative)
      graft.ops.Eval.krippendorffAlpha(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(array(lit(0L), lit(1L), lit(2L))).as("k"))
          .select(col("doc_id"),
            expr("(doc_id * (k + 3) + k) % 5").as("label")),
        "doc_id", "label", m = 3)),
    "eval_pr_curve" -> ((s, dir) =>
      // precision-recall sweep over every distinct quantized score
      // threshold (same e4 probability as eval_calibration); running
      // census confined to the O(distinct scores) aggregated domain
      graft.ops.Eval.prCurve(
        Tables.embeddings(s, dir).select(
          expr("greatest(least(CAST(CAST(embedding[0] AS DOUBLE) * " +
            "10000.0 AS BIGINT) + 5000, 10000), 0)").as("p"),
          when(col("label") < 5, 1L).otherwise(0L).as("y")),
        "p", "y")),
    "eval_rouge_l" -> ((s, dir) =>
      // generation eval: ROUGE-L per (ref = even doc_id, cand = +1) pair
      // over 40-token prefixes — LCS via the bit-parallel TokenLcs
      // expression, F1 = 2·LCS/(|r|+|c|) as an exact ratio; the oracle
      // replays the same Allison–Dix bit row as a recursive CTE
      graft.ops.Eval.rougeL(Tables.documents(s, dir))),
    "eval_wer" -> ((s, dir) =>
      // word error rate per generation pair: token-level Levenshtein via
      // a per-ROW vocab-to-codepoint map over both engines' character
      // levenshtein; WER = dist/|ref| exact ratio
      graft.ops.Eval.wer(Tables.documents(s, dir))),
    "eval_token_f1" -> ((s, dir) =>
      // SQuAD-style bag-of-tokens F1 per generation pair: overlap =
      // sum of min(candidate, reference) token counts; prec/rec/F1 as
      // exact ratios — the order-insensitive counterpart of WER/ROUGE-L
      graft.ops.Eval.tokenF1(Tables.documents(s, dir))),
    "eval_gleu" -> ((s, dir) =>
      // sentence-level GLEU: pooled 1+2-gram overlap, min(prec, rec) =
      // overlap / max(cand_grams, ref_grams) — one exact ratio
      graft.ops.Eval.gleu(Tables.documents(s, dir))),
    "eval_bleu_clip" -> ((s, dir) =>
      // clipped 1/2-gram precision per generation pair (the BLEU-n
      // core); exact (num, den) BIGINT pairs — the geometric mean and
      // brevity penalty are transcendental, so they stay downstream
      graft.ops.Eval.bleuClipped(Tables.documents(s, dir))),
    "eval_chrf" -> ((s, dir) =>
      // chrF2 per generation pair over character 1..3-grams of the
      // whitespace-stripped 80-char prefix: the tokenizer-free third
      // generation metric — (1+B^2)PR/(B^2 P+R) at B=2 collapses to the
      // exact rational 5m/(4 r_den + p_den), float-free end to end
      graft.ops.Eval.chrF(Tables.documents(s, dir))),
    "eval_distinct_n" -> ((s, dir) =>
      // distinct-1/distinct-2 diversity census per language — the
      // mode-collapse detector for generated corpora
      graft.ops.Eval.distinctNgrams(Tables.documents(s, dir))),
    "dq_fd_check" -> ((s, dir) =>
      // functional-dependency violation census: one exactly-holding rule
      // (orderkey is a key) and two meant-to-fail rules, with the g3-style
      // minimum-repair-deletes measure — the profiling pass before
      // declaring data contracts
      graft.ops.Expectations.fdViolations(Tables.orders(s, dir), Seq(
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus")))),
    "feat_calibration" -> ((s, dir) => {
      // reliability table: sigmoid(first embedding dim) scoring label==0
      val emb = Tables.embeddings(s, dir).select(
        // x8 gain: raw first components sit in [-0.37, 0.36], which sigmoid
        // maps into just two of the ten bins; the gain spreads the scores
        (lit(1.0) / (lit(1.0)
          + exp(lit(-8.0) * col("embedding").getItem(0).cast("double"))))
          .as("s"),
        when(col("label") === 0, 1.0).otherwise(0.0).as("y"))
      graft.ops.Features.calibrationTable(emb, "s", "y")
    }),
    "stat_cuped" -> ((s, dir) =>
      // CUPED readout: does pre-period activity explain post-period
      // activity enough to be worth the adjustment? theta and the exact
      // corr² variance reduction from five BIGINT sufficient statistics,
      // emitted as UNROUNDED identical doubles
      graft.ops.Stats.cuped(
        Tables.events(s, dir).filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg(
            sum(when(to_date(col("ts")) < lit("2024-01-16"), 1L)
              .otherwise(0L)).as("x"),
            sum(when(to_date(col("ts")) >= lit("2024-01-16"), 1L)
              .otherwise(0L)).as("y")),
        "x", "y")),
    "stat_srm" -> ((s, dir) =>
      // sample-ratio-mismatch guardrail on the md5 50/50 assignment:
      // chi2 collapses to (2a-n)^2/n and the 95% flag is the pure
      // integer comparison 100*(2a-n)^2 > 384*n
      graft.ops.Stats.sampleRatioMismatch(
        Tables.events(s, dir).filter(col("user_id").isNotNull)
          .select("user_id").distinct(),
        "user_id")),
    "stat_mannwhitney" -> ((s, dir) =>
      // rank-sum location-shift test on the same en -> fr doc-length
      // pair stat_ks screens for distribution shift: doubled midranks,
      // four BIGINT sufficient statistics, tie-corrected z combined in
      // identical doubles (sqrt-irrational, never a decimal tie)
      graft.ops.Stats.mannWhitney(
        Tables.documents(s, dir), "lang", "n_chars", "en", "fr")),
    "stat_permutation" -> ((s, dir) =>
      // exact randomization p-value for the md5 assignment on per-user
      // activity: pure-integer group-sum imbalance vs 64 salted
      // re-assignments of the same units, p as ExactRatio — no
      // distributional assumption, no double ever compared
      graft.ops.Stats.permutationTest(
        Tables.events(s, dir).filter(col("user_id").isNotNull)
          .groupBy("user_id").agg(count(lit(1)).as("m")),
        "user_id", "m")),
    "stat_fdr" -> ((s, dir) =>
      // multiple-comparisons guardrail: one randomization test per
      // event_type (does the md5 assignment explain that type's
      // per-user volume?), then the Benjamini-Hochberg step-up at 5%
      // decided ENTIRELY in integers — the reject set is bit-identical
      // in any engine, no p-value double ever compared
      graft.ops.Stats.fdrScreen(
        Tables.events(s, dir), "user_id", "event_type", count(lit(1)))),
    "stat_spearman" -> ((s, dir) =>
      // monotone association between per-user activity volume and type
      // breadth: integer doubled midranks, BIGINT sufficient statistics,
      // rho combined in identical doubles both engines (sqrt-irrational,
      // never a tie hazard); zero variance -> NULL
      graft.ops.Stats.spearman(
        Tables.events(s, dir).filter(col("user_id").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("x"),
            count_distinct(col("event_type")).as("y")),
        "x", "y")),
    "stat_ks" -> ((s, dir) =>
      // two-sample KS: did the doc-length distribution shift en -> fr?
      graft.ops.Stats.ksTest(
        Tables.documents(s, dir), "lang", "n_chars", "en", "fr")),
    "feat_psi" -> ((s, dir) =>
      // input-drift monitor: PSI of order value, pre-1997 as reference
      graft.ops.Features.psi(
        Tables.orders(s, dir).select(
          col("o_totalprice"),
          (col("o_orderdate").cast("date") < lit("1997-01-01").cast("date"))
            .as("__ref")),
        "o_totalprice", "__ref")),
  )

  /** graph_kcore oracle: synchronous peeling unrolled to the same fixed
    * 6 rounds as [[graft.ops.Graph.kCoreOf]] — each round recomputes induced
    * degrees over the previous survivor set and keeps nodes at >= 16.
    * Rounds past the fixpoint reproduce the set unchanged, so the fixed
    * unroll is exact regardless of where convergence lands (the Spark op
    * asserts it lands inside the cap).
    */
  private val KCoreSql: String = {
    val k = 16
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references the previous one TWICE (both edge endpoints), so an
    // un-materialized 6-round chain expands 2^6-fold — measured as a
    // 100-CPU-minute hang at sf1 vs 0.04 s materialized at sf0.01
    val rounds = (1 to 6).map { r =>
      s"""n$r AS MATERIALIZED (SELECT u AS node FROM (
         |  SELECT e.u, count(*) AS d FROM e
         |  JOIN n${r - 1} a ON e.u = a.node
         |  JOIN n${r - 1} b ON e.v = b.node
         |  GROUP BY e.u) WHERE d >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey*2 AS u, l_partkey*2+1 AS v
       |  FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
       |n0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM e),
       |$rounds
       |SELECT CAST($k AS BIGINT) AS k,
       |  (SELECT count(*) FROM n0) AS n_nodes,
       |  (SELECT count(*) FROM n6) AS n_core_nodes,
       |  (SELECT count(*) FROM n6 WHERE node % 2 = 0) AS n_core_suppliers,
       |  (SELECT count(*) FROM n6 WHERE node % 2 = 1) AS n_core_parts,
       |  (SELECT CAST(count(*) // 2 AS BIGINT) FROM e
       |     JOIN n6 a ON e.u = a.node
       |     JOIN n6 b ON e.v = b.node) AS n_core_edges,
       |  CAST(((SELECT count(*) FROM n6) * 2000000
       |        + (SELECT count(*) FROM n0))
       |       // (2 * (SELECT count(*) FROM n0)) AS DOUBLE) / 1000000.0
       |    AS core_share""".stripMargin
  }

  /** Shared by sim_topk_ivf and sim_topk_ivf_persisted: the persisted-index
    * read-back is bit-exact (double arrays round-trip parquet losslessly),
    * so both paths compute identical results.
    */
  /** Shared BPE CTE chain (w0 -> t1/w1 -> t2/w2 -> t3/w3): three
    * unrolled greedy merge rounds with the run-parity window rendering of
    * the left-to-right fold (marked pair-starts are adjacent only for
    * lhs == rhs runs; odd positions in each run survive) — validated vs an
    * independent Python BPE, incl. adversarial same-char-run corpora.
    * `bpe_learn` reads out the merge table; `bpe_encode` reads out the
    * re-symbolized vocabulary.
    */
  private val BpeFoldSql: String =
    """WITH w0 AS (
        |  SELECT word, n, list_transform(generate_series(1, length(word)), i -> word[i:i]) AS syms
        |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS n FROM
        |         (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |          FROM documents)
        |        GROUP BY word)),
        |p1 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt FROM (
        |  SELECT n, unnest(list_transform(generate_series(1, len(syms)-1),
        |      j -> {'l': syms[j], 'r': syms[j+1]})) AS u
        |  FROM w0 WHERE len(syms) >= 2) GROUP BY 1, 2),
        |t1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |mk1 AS (SELECT word, n, u.i AS i, u.s AS s,
        |            (u.s = t1.l AND coalesce(u.nx = t1.r, FALSE)) AS mk
        |          FROM (SELECT word, n, unnest(list_transform(generate_series(1, len(syms)),
        |              j -> {'i': j, 's': syms[j],
        |                     'nx': CASE WHEN j < len(syms) THEN syms[j+1] END})) AS u
        |            FROM w0), t1),
        |isl1 AS (SELECT word, n, i, s, mk,
        |             CASE WHEN mk THEN i - row_number() OVER (
        |               PARTITION BY word, mk ORDER BY i) END AS island
        |           FROM mk1),
        |keep1 AS (SELECT word, i FROM (
        |    SELECT word, i, row_number() OVER (PARTITION BY word, island ORDER BY i) AS rr
        |    FROM isl1 WHERE mk) WHERE rr % 2 = 1),
        |w1 AS (SELECT p.word AS word, any_value(p.n) AS n,
        |           list(CASE WHEN k.i IS NOT NULL THEN (SELECT l || r FROM t1)
        |                     ELSE p.s END ORDER BY p.i) AS syms
        |         FROM mk1 p
        |         LEFT JOIN keep1 k ON k.word = p.word AND k.i = p.i
        |         LEFT JOIN keep1 kp ON kp.word = p.word AND kp.i = p.i - 1
        |         WHERE kp.i IS NULL
        |         GROUP BY p.word),
        |p2 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt FROM (
        |  SELECT n, unnest(list_transform(generate_series(1, len(syms)-1),
        |      j -> {'l': syms[j], 'r': syms[j+1]})) AS u
        |  FROM w1 WHERE len(syms) >= 2) GROUP BY 1, 2),
        |t2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |mk2 AS (SELECT word, n, u.i AS i, u.s AS s,
        |            (u.s = t2.l AND coalesce(u.nx = t2.r, FALSE)) AS mk
        |          FROM (SELECT word, n, unnest(list_transform(generate_series(1, len(syms)),
        |              j -> {'i': j, 's': syms[j],
        |                     'nx': CASE WHEN j < len(syms) THEN syms[j+1] END})) AS u
        |            FROM w1), t2),
        |isl2 AS (SELECT word, n, i, s, mk,
        |             CASE WHEN mk THEN i - row_number() OVER (
        |               PARTITION BY word, mk ORDER BY i) END AS island
        |           FROM mk2),
        |keep2 AS (SELECT word, i FROM (
        |    SELECT word, i, row_number() OVER (PARTITION BY word, island ORDER BY i) AS rr
        |    FROM isl2 WHERE mk) WHERE rr % 2 = 1),
        |w2 AS (SELECT p.word AS word, any_value(p.n) AS n,
        |           list(CASE WHEN k.i IS NOT NULL THEN (SELECT l || r FROM t2)
        |                     ELSE p.s END ORDER BY p.i) AS syms
        |         FROM mk2 p
        |         LEFT JOIN keep2 k ON k.word = p.word AND k.i = p.i
        |         LEFT JOIN keep2 kp ON kp.word = p.word AND kp.i = p.i - 1
        |         WHERE kp.i IS NULL
        |         GROUP BY p.word),
        |p3 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt FROM (
        |  SELECT n, unnest(list_transform(generate_series(1, len(syms)-1),
        |      j -> {'l': syms[j], 'r': syms[j+1]})) AS u
        |  FROM w2 WHERE len(syms) >= 2) GROUP BY 1, 2),
        |t3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
        |mk3 AS (SELECT word, n, u.i AS i, u.s AS s,
        |            (u.s = t3.l AND coalesce(u.nx = t3.r, FALSE)) AS mk
        |          FROM (SELECT word, n, unnest(list_transform(generate_series(1, len(syms)),
        |              j -> {'i': j, 's': syms[j],
        |                     'nx': CASE WHEN j < len(syms) THEN syms[j+1] END})) AS u
        |            FROM w2), t3),
        |isl3 AS (SELECT word, n, i, s, mk,
        |             CASE WHEN mk THEN i - row_number() OVER (
        |               PARTITION BY word, mk ORDER BY i) END AS island
        |           FROM mk3),
        |keep3 AS (SELECT word, i FROM (
        |    SELECT word, i, row_number() OVER (PARTITION BY word, island ORDER BY i) AS rr
        |    FROM isl3 WHERE mk) WHERE rr % 2 = 1),
        |w3 AS (SELECT p.word AS word, any_value(p.n) AS n,
        |           list(CASE WHEN k.i IS NOT NULL THEN (SELECT l || r FROM t3)
        |                     ELSE p.s END ORDER BY p.i) AS syms
        |         FROM mk3 p
        |         LEFT JOIN keep3 k ON k.word = p.word AND k.i = p.i
        |         LEFT JOIN keep3 kp ON kp.word = p.word AND kp.i = p.i - 1
        |         WHERE kp.i IS NULL
        |         GROUP BY p.word)""".stripMargin

  private val IvfTopKSql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |           FROM embeddings),
      |n AS (SELECT vec_id, vec,
      |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
      |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm FROM n WHERE vec_id < 16),
      |asg AS (SELECT vec_id, vec, nrm, cent_id,
      |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
      |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
      |        FROM n CROSS JOIN c),
      |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
      |          (SELECT *, row_number() OVER (
      |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
      |         WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm, cell FROM cell
      |      WHERE vec_id % 50 = 0),
      |s AS (SELECT query_id, m.vec_id AS neighbor_id,
      |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
      |          i -> qvec[i]*m.vec[i]), 'sum') / (qnorm*m.nrm), 6) AS cos_sim
      |      FROM cell m JOIN q USING (cell) WHERE m.vec_id <> q.query_id)
      |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
      |WHERE rn <= 3""".stripMargin

  /** The DuckDB oracle SQL of every query in [[queries]], by name. Declared
    * after the `*Sql` fragment vals it interpolates, so they are set first.
    */
  val oracleSql: Map[String, String] = Map(
    "dedup_edit_distance" -> // partition-filter candidates (pigeonhole:
      // edit distance <= 3 forces one of the 4 key segments to match
      // within a +-3 shift -- answer-preserving for levenshtein; the
      // r10 all-pairs form was O(docs^2) and timed out the sf1 gate),
      // then exact levenshtein scoring. Recall of the scheme is
      // certified vs the naive all-pairs join in EditDistanceSpec.
      """WITH ky AS MATERIALIZED (SELECT doc_id,
        |              rpad(lower(substr(trim(text), 1, 40)), 40, '#') AS key
        |            FROM documents),
        |probes AS MATERIALIZED (
        |  SELECT doc_id, j AS slot, substr(key, j*10+1, 10) AS sub
        |  FROM ky CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |idx AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, j AS slot, substr(key, j*10+1+d, 10) AS sub
        |  FROM ky
        |  CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj
        |  CROSS JOIN (SELECT unnest([-3,-2,-1,0,1,2,3]) AS d) dd
        |  WHERE j*10+1+d >= 1 AND j*10+d+10 <= 40),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
        |         greatest(a.doc_id, b.doc_id) AS doc_b
        |  FROM probes a JOIN idx b
        |    ON a.slot = b.slot AND a.sub = b.sub AND a.doc_id <> b.doc_id)
        |SELECT c.doc_a, c.doc_b,
        |       CAST(levenshtein(ka.key, kb.key) AS INT) AS edit_dist
        |FROM cand c
        |JOIN ky ka ON ka.doc_id = c.doc_a
        |JOIN ky kb ON kb.doc_id = c.doc_b
        |WHERE levenshtein(ka.key, kb.key) <= 3""".stripMargin,
    "assoc_basket_pairs" ->
      """WITH items AS (SELECT basket, item FROM (
        |            SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
        |            FROM (SELECT DISTINCT l_orderkey AS basket,
        |                         l_partkey AS item FROM lineitem))
        |          WHERE bsz <= 1000),
        |pairs AS (SELECT a.item AS part_a, b.item AS part_b,
        |                 count(*) AS pair_cnt
        |          FROM items a JOIN items b
        |            ON a.basket = b.basket AND a.item < b.item
        |          GROUP BY 1, 2),
        |supp AS (SELECT item, count(*) AS cnt FROM items GROUP BY 1),
        |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM items)
        |SELECT part_a, part_b, pair_cnt,
        |       CAST((pair_cnt * n_baskets * 2000000 + sa.cnt * sb.cnt)
        |            // (2 * sa.cnt * sb.cnt) AS DOUBLE) / 1000000.0 AS lift
        |FROM pairs
        |JOIN supp sa ON pairs.part_a = sa.item
        |JOIN supp sb ON pairs.part_b = sb.item
        |CROSS JOIN nb
        |ORDER BY pair_cnt DESC, part_a, part_b
        |LIMIT 20""".stripMargin,
    "assoc_rules" -> // same pair/support CTEs, support filter, direction
      // unpivot, exact fixed-point confidence
      """WITH items AS (SELECT basket, item FROM (
        |            SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
        |            FROM (SELECT DISTINCT l_orderkey AS basket,
        |                         l_partkey AS item FROM lineitem))
        |          WHERE bsz <= 1000),
        |pairs AS (SELECT a.item AS part_a, b.item AS part_b,
        |                 count(*) AS pair_cnt
        |          FROM items a JOIN items b
        |            ON a.basket = b.basket AND a.item < b.item
        |          GROUP BY 1, 2 HAVING count(*) >= 2),
        |supp AS (SELECT item, count(*) AS cnt FROM items GROUP BY 1),
        |d AS (SELECT part_a AS antecedent, part_b AS consequent, pair_cnt
        |      FROM pairs
        |      UNION ALL
        |      SELECT part_b, part_a, pair_cnt FROM pairs)
        |SELECT d.antecedent, d.consequent, d.pair_cnt,
        |       s.cnt AS cnt_a,
        |       CAST((d.pair_cnt * 2000000 + s.cnt) // (2 * s.cnt)
        |            AS DOUBLE) / 1000000.0 AS confidence
        |FROM d JOIN supp s ON s.item = d.antecedent
        |ORDER BY confidence DESC, antecedent, consequent
        |LIMIT 20""".stripMargin,
    "rec_bias_model" -> // the chained-mean integer formulas replayed
      // verbatim: each mean rounds to an INTEGER e6 before feeding the
      // next, and the +C offset keeps every // numerator non-negative
      """WITH r AS (SELECT o.o_custkey AS u, l.l_partkey AS i,
        |             CAST(trunc(l.l_quantity) AS BIGINT) * 1000000 AS q6
        |           FROM lineitem l
        |           JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |mu AS (SELECT (2 * sum(q6) + count(*)) // (2 * count(*)) AS mu6
        |       FROM r),
        |ub AS (SELECT u,
        |         (2 * (sum(q6) + count(*) * (200000000 - mu6)) + count(*))
        |           // (2 * count(*)) - 200000000 AS bu6
        |       FROM r, mu GROUP BY u, mu6)
        |SELECT i AS item, CAST(count(*) AS BIGINT) AS n_ratings,
        |  CAST(mu6 AS DOUBLE) / 1000000.0 AS mu,
        |  CAST((2 * sum(q6 - mu6 - bu6 + 200000000) + count(*))
        |       // (2 * count(*)) - 200000000 AS DOUBLE) / 1000000.0
        |    AS item_bias
        |FROM r JOIN ub USING (u), mu
        |GROUP BY i, mu6""".stripMargin,
    "rec_bias_users" -> // the user half of the bias chain, replayed
      // with the same +C half-up integer formulas
      """WITH r AS (SELECT o.o_custkey AS u,
        |             CAST(trunc(l.l_quantity) AS BIGINT) * 1000000 AS q6
        |           FROM lineitem l
        |           JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |mu AS (SELECT (2 * sum(q6) + count(*)) // (2 * count(*)) AS mu6
        |       FROM r)
        |SELECT u AS "user", CAST(count(*) AS BIGINT) AS n_ratings,
        |  CAST(mu6 AS DOUBLE) / 1000000.0 AS mu,
        |  CAST((2 * (sum(q6) + count(*) * (200000000 - mu6)) + count(*))
        |       // (2 * count(*)) - 200000000 AS DOUBLE) / 1000000.0
        |    AS user_bias
        |FROM r, mu
        |GROUP BY u, mu6""".stripMargin,
    "rec_item_cosine" -> // assoc_basket_pairs' pair/support CTEs, scored
      // as floor((pair·1e6)/sqrt(ca·cb)) — identical doubles, exact floor
      """WITH items AS (SELECT basket, item FROM (
        |            SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
        |            FROM (SELECT DISTINCT l_orderkey AS basket,
        |                         l_partkey AS item FROM lineitem))
        |          WHERE bsz <= 1000),
        |pairs AS (SELECT a.item AS part_a, b.item AS part_b,
        |                 count(*) AS pair_cnt
        |          FROM items a JOIN items b
        |            ON a.basket = b.basket AND a.item < b.item
        |          GROUP BY 1, 2),
        |supp AS (SELECT item, count(*) AS cnt FROM items GROUP BY 1)
        |SELECT part_a, part_b, pair_cnt,
        |       CAST(floor(pair_cnt * 1000000 /
        |            sqrt(CAST(sa.cnt * sb.cnt AS DOUBLE))) AS BIGINT) AS cos_e6
        |FROM pairs
        |JOIN supp sa ON pairs.part_a = sa.item
        |JOIN supp sb ON pairs.part_b = sb.item
        |ORDER BY cos_e6 DESC, part_a, part_b
        |LIMIT 20""".stripMargin,
    "rec_user_topn" -> // same scored pairs, symmetrized, neighbor lists
      // capped at 10, integer score sums, owned items excluded
      """WITH items AS (SELECT basket, item FROM (
        |            SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
        |            FROM (SELECT DISTINCT l_orderkey AS basket,
        |                         l_partkey AS item FROM lineitem))
        |          WHERE bsz <= 1000),
        |pairs AS (SELECT a.item AS part_a, b.item AS part_b,
        |                 count(*) AS pair_cnt
        |          FROM items a JOIN items b
        |            ON a.basket = b.basket AND a.item < b.item
        |          GROUP BY 1, 2),
        |supp AS (SELECT item, count(*) AS cnt FROM items GROUP BY 1),
        |scored AS (SELECT part_a, part_b,
        |             CAST(floor(pair_cnt * 1000000 /
        |                  sqrt(CAST(sa.cnt * sb.cnt AS DOUBLE))) AS BIGINT)
        |               AS cos_e6
        |           FROM pairs
        |           JOIN supp sa ON pairs.part_a = sa.item
        |           JOIN supp sb ON pairs.part_b = sb.item),
        |sym AS (SELECT part_a AS item, part_b AS nbr, cos_e6 FROM scored
        |        UNION ALL
        |        SELECT part_b, part_a, cos_e6 FROM scored),
        |capped AS (SELECT item, nbr, cos_e6 FROM (
        |             SELECT item, nbr, cos_e6, row_number() OVER (
        |               PARTITION BY item ORDER BY cos_e6 DESC, nbr) AS nrank
        |             FROM sym)
        |           WHERE nrank <= 10),
        |hist AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        |         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |cand AS (SELECT h.cust, c.nbr AS rec_part, c.cos_e6
        |         FROM hist h JOIN capped c ON c.item = h.item
        |         LEFT JOIN hist own
        |           ON own.cust = h.cust AND own.item = c.nbr
        |         WHERE own.item IS NULL),
        |agg AS (SELECT cust, rec_part, CAST(sum(cos_e6) AS BIGINT) AS score_e6,
        |               CAST(count(*) AS BIGINT) AS n_contrib
        |        FROM cand GROUP BY 1, 2)
        |SELECT cust, rec_part, score_e6, n_contrib, CAST(rn AS BIGINT) AS rn
        |FROM (SELECT *, row_number() OVER (PARTITION BY cust
        |        ORDER BY score_e6 DESC, rec_part) AS rn FROM agg)
        |WHERE rn <= 3""".stripMargin,
    "rec_coverage" -> // rec_user_topn's full chain, audited: coverage
      // and exposure ratios in exact fixed point
      """WITH items AS (SELECT basket, item FROM (
        |            SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
        |            FROM (SELECT DISTINCT l_orderkey AS basket,
        |                         l_partkey AS item FROM lineitem))
        |          WHERE bsz <= 1000),
        |pairs AS (SELECT a.item AS part_a, b.item AS part_b,
        |                 count(*) AS pair_cnt
        |          FROM items a JOIN items b
        |            ON a.basket = b.basket AND a.item < b.item
        |          GROUP BY 1, 2),
        |supp AS (SELECT item, count(*) AS cnt FROM items GROUP BY 1),
        |scored AS (SELECT part_a, part_b,
        |             CAST(floor(pair_cnt * 1000000 /
        |                  sqrt(CAST(sa.cnt * sb.cnt AS DOUBLE))) AS BIGINT)
        |               AS cos_e6
        |           FROM pairs
        |           JOIN supp sa ON pairs.part_a = sa.item
        |           JOIN supp sb ON pairs.part_b = sb.item),
        |sym AS (SELECT part_a AS item, part_b AS nbr, cos_e6 FROM scored
        |        UNION ALL
        |        SELECT part_b, part_a, cos_e6 FROM scored),
        |capped AS (SELECT item, nbr, cos_e6 FROM (
        |             SELECT item, nbr, cos_e6, row_number() OVER (
        |               PARTITION BY item ORDER BY cos_e6 DESC, nbr) AS nrank
        |             FROM sym)
        |           WHERE nrank <= 10),
        |hist AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        |         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |cand AS (SELECT h.cust, c.nbr AS rec_part, c.cos_e6
        |         FROM hist h JOIN capped c ON c.item = h.item
        |         LEFT JOIN hist own
        |           ON own.cust = h.cust AND own.item = c.nbr
        |         WHERE own.item IS NULL),
        |agg AS (SELECT cust, rec_part, CAST(sum(cos_e6) AS BIGINT) AS score_e6
        |        FROM cand GROUP BY 1, 2),
        |recs AS (SELECT cust, rec_part
        |         FROM (SELECT *, row_number() OVER (PARTITION BY cust
        |                 ORDER BY score_e6 DESC, rec_part) AS rn FROM agg)
        |         WHERE rn <= 3),
        |slots AS (SELECT CAST(count(*) AS BIGINT) AS n_slots,
        |                 CAST(count(DISTINCT rec_part) AS BIGINT)
        |                   AS n_rec_parts FROM recs),
        |te AS (SELECT CAST(max(c) AS BIGINT) AS max_exposure
        |       FROM (SELECT count(*) AS c FROM recs GROUP BY rec_part)),
        |cat AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
        |          AS n_catalog_parts FROM lineitem)
        |SELECT n_slots, n_rec_parts, n_catalog_parts, max_exposure,
        |       CAST((n_rec_parts * 2000000 + n_catalog_parts)
        |            // (2 * n_catalog_parts) AS DOUBLE) / 1000000.0
        |         AS catalog_coverage,
        |       CAST((max_exposure * 2000000 + n_slots)
        |            // (2 * n_slots) AS DOUBLE) / 1000000.0
        |         AS max_exposure_share
        |FROM slots CROSS JOIN te CROSS JOIN cat""".stripMargin,
    "graph_local_clustering" -> // same strong-tie edges as
      // graph_triangles, direct triple-join triangle list, per-vertex
      // unpivot census, exact fixed-point coefficient
      """WITH items AS (SELECT basket, item FROM (
        |            SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
        |            FROM (SELECT DISTINCT l_orderkey AS basket,
        |                         l_partkey AS item FROM lineitem))
        |          WHERE bsz <= 1000),
        |e AS (SELECT a.item AS u, b.item AS v
        |      FROM items a JOIN items b
        |        ON a.basket = b.basket AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n AS node, count(*) AS deg
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |t AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c FROM e ab
        |      JOIN e bc ON bc.u = ab.v
        |      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
        |pn AS (SELECT node, count(*) AS n_tri
        |       FROM (SELECT a AS node FROM t UNION ALL SELECT b FROM t
        |             UNION ALL SELECT c FROM t)
        |       GROUP BY 1)
        |SELECT d.node, d.deg, CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
        |       CAST((2 * COALESCE(pn.n_tri, 0) * 2000000
        |             + d.deg * (d.deg - 1))
        |            // (2 * d.deg * (d.deg - 1)) AS DOUBLE) / 1000000.0 AS cc
        |FROM deg d LEFT JOIN pn ON pn.node = d.node
        |WHERE d.deg >= 2
        |ORDER BY cc DESC, d.node
        |LIMIT 20""".stripMargin,
    "ts_lead_lag" -> // co-moment sums exact in BIGINT; r is one
      // identical IEEE expression on both engines; NULL at zero variance
      """WITH a AS (SELECT date_diff('day', DATE '1970-01-01', o_orderdate)
        |             AS day, CAST(count(*) AS BIGINT) AS x
        |           FROM orders GROUP BY 1),
        |b AS (SELECT date_diff('day', DATE '1970-01-01', l_shipdate)
        |        AS day, CAST(count(*) AS BIGINT) AS y
        |      FROM lineitem GROUP BY 1),
        |l AS (SELECT CAST(unnest(generate_series(0, 30)) AS BIGINT) AS lag_d),
        |m AS (SELECT l.lag_d, a.x, b.y
        |      FROM a CROSS JOIN l JOIN b ON b.day = a.day + l.lag_d),
        |s AS (SELECT lag_d, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS sx,
        |             CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(x * y) AS BIGINT) AS sxy,
        |             CAST(sum(x * x) AS BIGINT) AS sx2,
        |             CAST(sum(y * y) AS BIGINT) AS sy2
        |      FROM m GROUP BY 1)
        |SELECT lag_d, n AS n_days,
        |       CASE WHEN n * sx2 - sx * sx = 0 OR n * sy2 - sy * sy = 0
        |            THEN NULL
        |            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |                 / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
        |                    * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
        |       END AS r
        |FROM s ORDER BY lag_d""".stripMargin,
    "ts_backtest" -> // DECIMAL(18,2) daily sums (incr_agg_merge's exact
      // pattern) so cents are BIGINT; WAPE in exact fixed point
      """WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
        |                 CAST(o_orderdate AS DATE)) AS day,
        |                 CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |                      AS BIGINT) AS cents
        |               FROM orders GROUP BY 1),
        |m AS (SELECT a.day, a.cents AS actual, f.cents AS forecast
        |      FROM daily a JOIN daily f ON a.day = f.day + 7),
        |s AS (SELECT day % 7 AS weekday_slot,
        |        CAST(count(*) AS BIGINT) AS n_days,
        |        CAST(sum(abs(actual - forecast)) AS BIGINT)
        |          AS sum_abs_err_cents,
        |        CAST(sum(actual) AS BIGINT) AS sum_actual_cents
        |      FROM m GROUP BY 1)
        |SELECT weekday_slot, n_days, sum_abs_err_cents, sum_actual_cents,
        |       CAST((sum_abs_err_cents * 2000000 + sum_actual_cents)
        |            // (2 * sum_actual_cents) AS DOUBLE) / 1000000.0 AS wape
        |FROM s ORDER BY weekday_slot""".stripMargin,
    "dq_inclusion" -> // four probes, each one distinct-distinct left
      // join + a 1-row conditional count; exact fixed-point ratios
      """WITH probe AS (
        |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS rule,
        |         CAST(count(*) AS BIGINT) AS n_child_distinct,
        |         CAST(COALESCE(sum(CASE WHEN p.k IS NOT NULL
        |                                THEN 1 ELSE 0 END), 0)
        |              AS BIGINT) AS n_contained
        |  FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem
        |        WHERE l_orderkey IS NOT NULL) c
        |  LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders
        |             WHERE o_orderkey IS NOT NULL) p ON p.k = c.k
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer.c_custkey',
        |         CAST(count(*) AS BIGINT),
        |         CAST(COALESCE(sum(CASE WHEN p.k IS NOT NULL
        |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
        |  FROM (SELECT DISTINCT o_custkey AS k FROM orders
        |        WHERE o_custkey IS NOT NULL) c
        |  LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer
        |             WHERE c_custkey IS NOT NULL) p ON p.k = c.k
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part.p_partkey',
        |         CAST(count(*) AS BIGINT),
        |         CAST(COALESCE(sum(CASE WHEN p.k IS NOT NULL
        |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
        |  FROM (SELECT DISTINCT l_partkey AS k FROM lineitem
        |        WHERE l_partkey IS NOT NULL) c
        |  LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part
        |             WHERE p_partkey IS NOT NULL) p ON p.k = c.k
        |  UNION ALL
        |  SELECT 'part.p_partkey->lineitem.l_partkey',
        |         CAST(count(*) AS BIGINT),
        |         CAST(COALESCE(sum(CASE WHEN p.k IS NOT NULL
        |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
        |  FROM (SELECT DISTINCT p_partkey AS k FROM part
        |        WHERE p_partkey IS NOT NULL) c
        |  LEFT JOIN (SELECT DISTINCT l_partkey AS k FROM lineitem
        |             WHERE l_partkey IS NOT NULL) p ON p.k = c.k)
        |SELECT rule, n_child_distinct, n_contained,
        |       CASE WHEN n_child_distinct > 0 THEN
        |         CAST((n_contained * 2000000 + n_child_distinct)
        |              // (2 * n_child_distinct) AS DOUBLE) / 1000000.0
        |       ELSE NULL END AS containment
        |FROM probe ORDER BY rule""".stripMargin,
    "graph_pagerank" -> // 3 unrolled iterations, 1e-12 fixed point:
      // integer // and * only, so both engines are bit-identical
      """WITH e0 AS (SELECT DISTINCT l_suppkey*2 AS u, l_partkey*2+1 AS v
        |            FROM lineitem),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (SELECT u, count(*) AS deg FROM e GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM deg),
        |ed AS (SELECT e.u, e.v, d.deg FROM e JOIN deg d ON e.u = d.u),
        |r0 AS (SELECT u AS node, 1000000000000 // n AS rk
        |       FROM deg CROSS JOIN n),
        |c1 AS (SELECT ed.v AS node, CAST(sum(r.rk // ed.deg) AS BIGINT) AS c
        |       FROM ed JOIN r0 r ON ed.u = r.node GROUP BY 1),
        |r1 AS (SELECT node, (150000000000 // n) + (c * 85) // 100 AS rk
        |       FROM c1 CROSS JOIN n),
        |c2 AS (SELECT ed.v AS node, CAST(sum(r.rk // ed.deg) AS BIGINT) AS c
        |       FROM ed JOIN r1 r ON ed.u = r.node GROUP BY 1),
        |r2 AS (SELECT node, (150000000000 // n) + (c * 85) // 100 AS rk
        |       FROM c2 CROSS JOIN n),
        |c3 AS (SELECT ed.v AS node, CAST(sum(r.rk // ed.deg) AS BIGINT) AS c
        |       FROM ed JOIN r2 r ON ed.u = r.node GROUP BY 1),
        |r3 AS (SELECT node, (150000000000 // n) + (c * 85) // 100 AS rk
        |       FROM c3 CROSS JOIN n)
        |SELECT node, rk AS rank_fp FROM r3
        |ORDER BY rk DESC, node LIMIT 20""".stripMargin,
    "graph_ppr" -> // same unrolled integer fixed point, restart mass on
      // the seed set only; sparse rank table carried via FULL JOIN so an
      // unreached seed keeps its restart mass
      """WITH e0 AS (SELECT DISTINCT l_suppkey*2 AS u, l_partkey*2+1 AS v
        |            FROM lineitem),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (SELECT u, count(*) AS deg FROM e GROUP BY 1),
        |ed AS (SELECT e.u, e.v, d.deg FROM e JOIN deg d ON e.u = d.u),
        |seeds AS (SELECT u AS node FROM deg
        |          WHERE u % 2 = 1 AND ((u - 1) // 2) % 50 = 0),
        |sc AS (SELECT count(*) AS s FROM seeds),
        |r0 AS (SELECT node, 1000000000000 // s AS rk
        |       FROM seeds CROSS JOIN sc),
        |c1 AS (SELECT ed.v AS node, CAST(sum(r.rk // ed.deg) AS BIGINT) AS c
        |       FROM ed JOIN r0 r ON ed.u = r.node GROUP BY 1),
        |r1 AS (SELECT COALESCE(c.node, sd.node) AS node,
        |         (CASE WHEN sd.node IS NOT NULL THEN 150000000000 // s
        |               ELSE 0 END) + (COALESCE(c.c, 0) * 85) // 100 AS rk
        |       FROM c1 c FULL JOIN seeds sd ON c.node = sd.node
        |       CROSS JOIN sc),
        |c2 AS (SELECT ed.v AS node, CAST(sum(r.rk // ed.deg) AS BIGINT) AS c
        |       FROM ed JOIN r1 r ON ed.u = r.node GROUP BY 1),
        |r2 AS (SELECT COALESCE(c.node, sd.node) AS node,
        |         (CASE WHEN sd.node IS NOT NULL THEN 150000000000 // s
        |               ELSE 0 END) + (COALESCE(c.c, 0) * 85) // 100 AS rk
        |       FROM c2 c FULL JOIN seeds sd ON c.node = sd.node
        |       CROSS JOIN sc),
        |c3 AS (SELECT ed.v AS node, CAST(sum(r.rk // ed.deg) AS BIGINT) AS c
        |       FROM ed JOIN r2 r ON ed.u = r.node GROUP BY 1),
        |r3 AS (SELECT COALESCE(c.node, sd.node) AS node,
        |         (CASE WHEN sd.node IS NOT NULL THEN 150000000000 // s
        |               ELSE 0 END) + (COALESCE(c.c, 0) * 85) // 100 AS rk
        |       FROM c3 c FULL JOIN seeds sd ON c.node = sd.node
        |       CROSS JOIN sc)
        |SELECT node, rk AS rank_fp FROM r3
        |ORDER BY rk DESC, node LIMIT 20""".stripMargin,
    "graph_bfs" -> // recursive CTE with UNION (not UNION ALL): dedup on
      // (node, dist) keeps the working set O(V·depth) where a
      // path-enumerating recursion would explode combinatorially
      """WITH RECURSIVE
        |e0 AS (SELECT DISTINCT l_suppkey*2 AS u, l_partkey*2+1 AS v
        |       FROM lineitem),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |walk AS (
        |  SELECT DISTINCT u AS node, 0 AS dist FROM e WHERE u % 20 = 0
        |  UNION
        |  SELECT e.v AS node, w.dist + 1 AS dist
        |  FROM walk w JOIN e ON e.u = w.node WHERE w.dist < 3),
        |best AS (SELECT node, min(dist) AS d FROM walk GROUP BY 1)
        |SELECT CAST(d AS BIGINT) AS dist, count(*) AS n_nodes
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin,
    "graph_feature_prop" -> // same two message-passing rounds; trunc()
      // before the BIGINT cast, // is the same floor on positives
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
        |           FROM lineitem),
        |pf AS (SELECT p_partkey AS p,
        |         CAST(trunc(p_retailprice) AS BIGINT) AS f
        |       FROM part),
        |h1 AS (SELECT e.s, CAST(sum(pf.f) AS BIGINT) // count(*) AS h
        |       FROM e JOIN pf ON pf.p = e.p GROUP BY e.s),
        |h2 AS (SELECT e.p,
        |         CAST(sum(h1.h) AS BIGINT) // count(*) AS feat_2hop,
        |         CAST(count(*) AS BIGINT) AS n_supp
        |       FROM e JOIN h1 ON h1.s = e.s GROUP BY e.p)
        |SELECT p AS p_partkey, feat_2hop, n_supp FROM h2""".stripMargin,
    "graph_harmonic" -> // same fixed seed panel and three min-dist
      // relaxation unrolls keyed (seed, node); harmonic exact over 60
      """WITH e0 AS (SELECT DISTINCT l_suppkey*2 AS u, l_partkey*2+1 AS v
        |            FROM lineitem),
        |e AS MATERIALIZED (SELECT u, v FROM e0
        |     UNION ALL SELECT v AS u, u AS v FROM e0),
        |seeds AS (SELECT DISTINCT u AS s FROM e WHERE u % 20 = 0
        |          ORDER BY u LIMIT 8),
        |d0 AS MATERIALIZED (SELECT s, s AS node, CAST(0 AS BIGINT) AS dist
        |                    FROM seeds),
        |d1 AS MATERIALIZED (SELECT s, node, min(dist) AS dist FROM (
        |        SELECT s, node, dist FROM d0
        |        UNION ALL
        |        SELECT d0.s, e.v AS node, d0.dist + 1 AS dist
        |        FROM e JOIN d0 ON d0.node = e.u) GROUP BY 1, 2),
        |d2 AS MATERIALIZED (SELECT s, node, min(dist) AS dist FROM (
        |        SELECT s, node, dist FROM d1
        |        UNION ALL
        |        SELECT d1.s, e.v AS node, d1.dist + 1 AS dist
        |        FROM e JOIN d1 ON d1.node = e.u) GROUP BY 1, 2),
        |d3 AS MATERIALIZED (SELECT s, node, min(dist) AS dist FROM (
        |        SELECT s, node, dist FROM d2
        |        UNION ALL
        |        SELECT d2.s, e.v AS node, d2.dist + 1 AS dist
        |        FROM e JOIN d2 ON d2.node = e.u) GROUP BY 1, 2),
        |agg AS (SELECT s,
        |         CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_d1,
        |         CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_d2,
        |         CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_d3
        |        FROM d3 WHERE dist > 0 GROUP BY 1)
        |SELECT s AS seed, n_d1, n_d2, n_d3,
        |  CAST(((60 * n_d1 + 30 * n_d2 + 20 * n_d3) * 2000000 + 60)
        |       // 120 AS DOUBLE) / 1000000.0 AS harmonic
        |FROM agg ORDER BY 1""".stripMargin,
    "graph_sssp" -> // three relaxations unrolled; trunc() before the
      // weight cast (DuckDB rounds double->int, Spark truncates)
      """WITH e0 AS (SELECT l_suppkey*2 AS u, l_partkey*2+1 AS v,
        |              CAST(trunc(min(l_quantity)) AS BIGINT) AS w
        |            FROM lineitem GROUP BY 1, 2),
        |e AS (SELECT u, v, w FROM e0
        |      UNION ALL SELECT v AS u, u AS v, w FROM e0),
        |d0 AS (SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist
        |       FROM e WHERE u % 20 = 0),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM d0
        |         UNION ALL
        |         SELECT e.v AS node, d0.dist + e.w AS dist
        |         FROM e JOIN d0 ON d0.node = e.u) GROUP BY 1),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM d1
        |         UNION ALL
        |         SELECT e.v AS node, d1.dist + e.w AS dist
        |         FROM e JOIN d1 ON d1.node = e.u) GROUP BY 1),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |         SELECT node, dist FROM d2
        |         UNION ALL
        |         SELECT e.v AS node, d2.dist + e.w AS dist
        |         FROM e JOIN d2 ON d2.node = e.u) GROUP BY 1)
        |SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
        |ORDER BY dist, node LIMIT 20""".stripMargin,
    "graph_lpa" -> // both rounds unrolled; identical argmax tie chain
      """WITH e0 AS (SELECT DISTINCT l_suppkey*2 AS u, l_partkey*2+1 AS v
        |            FROM lineitem),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
        |c1 AS (SELECT e.u, l.label, count(*) AS cnt
        |       FROM e JOIN l0 l ON l.node = e.v GROUP BY 1, 2),
        |l1 AS (SELECT u AS node, label FROM (
        |         SELECT u, label, row_number() OVER (PARTITION BY u
        |           ORDER BY cnt DESC, label) AS rn FROM c1)
        |       WHERE rn = 1),
        |c2 AS (SELECT e.u, l.label, count(*) AS cnt
        |       FROM e JOIN l1 l ON l.node = e.v GROUP BY 1, 2),
        |l2 AS (SELECT u AS node, label FROM (
        |         SELECT u, label, row_number() OVER (PARTITION BY u
        |           ORDER BY cnt DESC, label) AS rn FROM c2)
        |       WHERE rn = 1),
        |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
        |          FROM l2 GROUP BY 1)
        |SELECT community_size, CAST(count(*) AS BIGINT) AS n_communities
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,
    "graph_modularity" -> // graph_lpa's unrolled rounds (MATERIALIZED:
      // l2 is referenced three times below - inlined CTEs would expand
      // the round chain multiplicatively, the graph_kcore lesson), then
      // exact BIGINT census sums and ONE double division for Q
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey*2 AS u, l_partkey*2+1 AS v
        |  FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e),
        |c1 AS MATERIALIZED (
        |  SELECT e.u, l.label, count(*) AS cnt
        |  FROM e JOIN l0 l ON l.node = e.v GROUP BY 1, 2),
        |l1 AS MATERIALIZED (
        |  SELECT u AS node, label FROM (
        |    SELECT u, label, row_number() OVER (PARTITION BY u
        |      ORDER BY cnt DESC, label) AS rn FROM c1)
        |  WHERE rn = 1),
        |c2 AS MATERIALIZED (
        |  SELECT e.u, l.label, count(*) AS cnt
        |  FROM e JOIN l1 l ON l.node = e.v GROUP BY 1, 2),
        |l2 AS MATERIALIZED (
        |  SELECT u AS node, label FROM (
        |    SELECT u, label, row_number() OVER (PARTITION BY u
        |      ORDER BY cnt DESC, label) AS rn FROM c2)
        |  WHERE rn = 1),
        |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m_directed FROM e),
        |ein AS (SELECT CAST(count(*) AS BIGINT) AS e_in
        |        FROM e JOIN l2 a ON a.node = e.u
        |               JOIN l2 b ON b.node = e.v
        |        WHERE a.label = b.label),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |dc AS (SELECT a.label, CAST(sum(d) AS BIGINT) AS d_c
        |       FROM deg JOIN l2 a ON a.node = deg.u GROUP BY 1),
        |ds AS (SELECT CAST(sum(d_c * d_c) AS BIGINT) AS sum_dsq,
        |              CAST(count(*) AS BIGINT) AS n_communities FROM dc)
        |SELECT n_communities, m_directed, e_in,
        |       m_directed * e_in - sum_dsq AS q_num,
        |       CAST(m_directed * e_in - sum_dsq AS DOUBLE)
        |         / CAST(m_directed * m_directed AS DOUBLE) AS q
        |FROM ds CROSS JOIN m2 CROSS JOIN ein""".stripMargin,
    "graph_kcore" -> KCoreSql,
    "graph_assortativity" -> // identical edge set, casts mirrored so the
      // double combination is bit-identical
      """WITH e0 AS (SELECT DISTINCT l_suppkey*2 AS u, l_partkey*2+1 AS v
        |            FROM lineitem),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |xy AS (SELECT dx.d AS x, dy.d AS y
        |       FROM e JOIN deg dx ON dx.u = e.u JOIN deg dy ON dy.u = e.v),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy
        |      FROM xy)
        |SELECT n // 2 AS n_edges,
        |  round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |              AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |         THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |              / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                 * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |         END, 6) AS assortativity
        |FROM s""".stripMargin,
    "graph_link_predict" -> // same strong-tie edge derivation as
      // graph_triangles; wedge pairs per center, anti-join the edge
      // list, exact-ratio Jaccard, identical top-20 cut
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket,
        |                 l_partkey AS item
        |               FROM lineitem),
        |e AS MATERIALIZED (SELECT a.item AS u, b.item AS v
        |      FROM items a JOIN items b
        |        ON a.basket = b.basket AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS MATERIALIZED (SELECT u, v FROM e
        |                     UNION ALL SELECT v AS u, u AS v FROM e),
        |deg AS MATERIALIZED (SELECT u, count(*) AS d FROM adj GROUP BY 1),
        |wed AS (SELECT a.v AS x, b.v AS y, count(*) AS n_common
        |        FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v
        |        GROUP BY 1, 2 HAVING count(*) >= 1),
        |cand AS (SELECT x, y, n_common FROM wed
        |         WHERE NOT EXISTS (SELECT 1 FROM e
        |                           WHERE e.u = wed.x AND e.v = wed.y))
        |SELECT cand.x AS u, cand.y AS v,
        |       CAST(n_common AS BIGINT) AS n_common,
        |       CAST(dx.d AS BIGINT) AS deg_u, CAST(dy.d AS BIGINT) AS deg_v,
        |       CAST((n_common * 2000000 + (dx.d + dy.d - n_common))
        |            // (2 * (dx.d + dy.d - n_common)) AS DOUBLE) / 1000000.0
        |         AS jaccard
        |FROM cand JOIN deg dx ON dx.u = cand.x JOIN deg dy ON dy.u = cand.y
        |ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin,
    "graph_reciprocity" -> // same nation-trade digraph; reverse-edge
      // left join over the collapsed edge set, exact-ratio share. The
      // src<>dst filter applies AFTER the distinct projection and the
      // edge CTE is MATERIALIZED: with the inequality inside the join
      // WHERE, DuckDB's reorderer takes it as the only predicate linking
      // customer to supplier and builds that 1e10-row near-cross first
      // (measured: >300 s at sf1; this spelling is ~4 s)
      """WITH cn AS (SELECT o_orderkey, c_nationkey
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |e AS MATERIALIZED (SELECT DISTINCT
        |    CAST(cn.c_nationkey AS BIGINT) AS src,
        |    CAST(s.s_nationkey AS BIGINT) AS dst
        |  FROM lineitem l
        |  JOIN cn ON l.l_orderkey = cn.o_orderkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |e2 AS MATERIALIZED (SELECT src, dst FROM e
        |  WHERE src <> dst AND (2 * src + dst) % 5 <> 0),
        |j AS (SELECT e2.src, e2.dst,
        |        CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS has_rev
        |      FROM e2 LEFT JOIN e2 r ON r.src = e2.dst AND r.dst = e2.src)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(has_rev) AS BIGINT) AS n_reciprocated,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST((sum(has_rev) * 2000000 + count(*)) // (2 * count(*))
        |      AS DOUBLE) / 1000000.0 END AS reciprocity
        |FROM j""".stripMargin,
    "graph_hits" -> // both iterations unrolled; every half-step the same
      // integer arithmetic: raw BIGINT sums, (raw*1e6) // tot truncation
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
        |             CAST(l_partkey AS BIGINT) AS p
        |           FROM lineitem),
        |h0 AS (SELECT s, CAST(1 AS BIGINT) AS hub
        |       FROM (SELECT DISTINCT s FROM e)),
        |a1r AS (SELECT p, CAST(sum(hub) AS BIGINT) AS raw
        |        FROM e JOIN h0 USING (s) GROUP BY 1),
        |a1t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM a1r),
        |a1 AS (SELECT p, CAST((CAST(raw AS HUGEINT) * 1000000000000) // tot AS BIGINT) AS auth FROM a1r, a1t),
        |h1r AS (SELECT s, CAST(sum(auth) AS BIGINT) AS raw
        |        FROM e JOIN a1 USING (p) GROUP BY 1),
        |h1t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM h1r),
        |h1 AS (SELECT s, CAST((CAST(raw AS HUGEINT) * 1000000000000) // tot AS BIGINT) AS hub FROM h1r, h1t),
        |a2r AS (SELECT p, CAST(sum(hub) AS BIGINT) AS raw
        |        FROM e JOIN h1 USING (s) GROUP BY 1),
        |a2t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM a2r),
        |a2 AS (SELECT p, CAST((CAST(raw AS HUGEINT) * 1000000000000) // tot AS BIGINT) AS auth FROM a2r, a2t),
        |h2r AS (SELECT s, CAST(sum(auth) AS BIGINT) AS raw
        |        FROM e JOIN a2 USING (p) GROUP BY 1),
        |h2t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM h2r),
        |h2 AS (SELECT s, CAST((CAST(raw AS HUGEINT) * 1000000000000) // tot AS BIGINT) AS hub FROM h2r, h2t),
        |ta AS (SELECT 'auth' AS kind, p AS node, auth AS score_fp
        |       FROM a2 ORDER BY auth DESC, p LIMIT 10),
        |th AS (SELECT 'hub' AS kind, s AS node, hub AS score_fp
        |       FROM h2 ORDER BY hub DESC, s LIMIT 10)
        |SELECT kind, node, score_fp FROM ta
        |UNION ALL
        |SELECT kind, node, score_fp FROM th
        |ORDER BY kind, score_fp DESC, node""".stripMargin,
    "spatial_radius_join" -> // the oracle IS the quadratic dominance form
      // the Spark plan must avoid: every pair, filtered by distance
      """WITH p AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |             CAST(c_custkey * 37 % 1000 AS BIGINT) AS x,
        |             CAST(c_custkey * 61 % 1000 AS BIGINT) AS y
        |           FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |         AS dist_sq
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      <= 625""".stripMargin,
    "spatial_density" ->
      """WITH p AS (SELECT CAST(c_custkey * 37 % 1000 AS BIGINT) AS x,
        |             CAST(c_custkey * 61 % 1000 AS BIGINT) AS y
        |           FROM customer)
        |SELECT x - x % 50 AS gx, y - y % 50 AS gy, count(*) AS n_points
        |FROM p GROUP BY 1, 2
        |ORDER BY n_points DESC, gx, gy LIMIT 20""".stripMargin,
    "spatial_knn" -> // quadratic form allowed at fixture scale; the
      // (dist_sq, neighbor_id) rank chain is fully deterministic
      """WITH p AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |             CAST(c_custkey * 37 % 1000 AS BIGINT) AS x,
        |             CAST(c_custkey * 61 % 1000 AS BIGINT) AS y
        |           FROM customer),
        |cand AS (SELECT q.id AS query_id, p.id AS neighbor_id,
        |           (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y)
        |             AS dist_sq
        |         FROM p q JOIN p ON p.id <> q.id
        |         WHERE q.id % 50 = 0
        |           AND (q.x - p.x) * (q.x - p.x)
        |               + (q.y - p.y) * (q.y - p.y) <= 2500)
        |SELECT query_id, neighbor_id, dist_sq, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id
        |        ORDER BY dist_sq, neighbor_id) AS rn
        |      FROM cand)
        |WHERE rn <= 5""".stripMargin,
    "link_candidates" -> // the same blocked equi-join + neighbor-block
      // recovery, reduced to the agreement-pattern census
      """WITH a AS (SELECT c_custkey AS a_id, substr(c_name, 10, 9) AS a_name,
        |             c_nationkey AS a_nation, c_acctbal AS a_bal,
        |             c_mktsegment AS a_seg FROM customer),
        |b AS (SELECT c_custkey AS b_id,
        |        CASE WHEN c_custkey % 11 = 0
        |             THEN substr(c_name, 10, 7) || substr(c_name, 18, 1)
        |                  || substr(c_name, 17, 1)
        |             ELSE substr(c_name, 10, 9) END AS b_name,
        |        c_nationkey AS b_nation,
        |        CAST(floor((c_acctbal * 100 + 50) / 100) AS BIGINT) AS b_bal,
        |        CASE WHEN c_custkey % 5 = 0 THEN NULL
        |             ELSE c_mktsegment END AS b_seg
        |      FROM customer),
        |ab AS (SELECT *, CAST(floor(a_bal * 100 + 0.5) AS BIGINT) AS bal_l,
        |         unnest(list_distinct([CAST(floor(a_bal / 100) AS BIGINT),
        |           CAST(floor((a_bal - 1) / 100) AS BIGINT)])) AS blk
        |       FROM a),
        |bb AS (SELECT *,
        |         unnest(list_distinct([CAST(floor(b_bal / 100) AS BIGINT),
        |           CAST(floor((b_bal - 1) / 100) AS BIGINT)])) AS blk
        |       FROM b),
        |cand AS (SELECT DISTINCT a_id, b_id,
        |           CAST(a_name = b_name AS INT) AS agr_name,
        |           CAST(abs(bal_l - b_bal * 100) <= 50 AS INT) AS agr_bal,
        |           coalesce(CAST(a_seg = b_seg AS INT), 0) AS agr_seg,
        |           CAST(b_seg IS NULL AS INT) AS seg_missing
        |         FROM ab JOIN bb
        |           ON ab.a_nation = bb.b_nation AND ab.blk = bb.blk)
        |SELECT agr_name, agr_bal, agr_seg, seg_missing,
        |       count(*) AS n_pairs
        |FROM cand GROUP BY 1, 2, 3, 4""".stripMargin,
    "link_matches" -> // additive integer weights + thresholds; only
      // match/possible rows survive
      """WITH a AS (SELECT c_custkey AS a_id, substr(c_name, 10, 9) AS a_name,
        |             c_nationkey AS a_nation, c_acctbal AS a_bal,
        |             c_mktsegment AS a_seg FROM customer),
        |b AS (SELECT c_custkey AS b_id,
        |        CASE WHEN c_custkey % 11 = 0
        |             THEN substr(c_name, 10, 7) || substr(c_name, 18, 1)
        |                  || substr(c_name, 17, 1)
        |             ELSE substr(c_name, 10, 9) END AS b_name,
        |        c_nationkey AS b_nation,
        |        CAST(floor((c_acctbal * 100 + 50) / 100) AS BIGINT) AS b_bal,
        |        CASE WHEN c_custkey % 5 = 0 THEN NULL
        |             ELSE c_mktsegment END AS b_seg
        |      FROM customer),
        |ab AS (SELECT *, CAST(floor(a_bal * 100 + 0.5) AS BIGINT) AS bal_l,
        |         unnest(list_distinct([CAST(floor(a_bal / 100) AS BIGINT),
        |           CAST(floor((a_bal - 1) / 100) AS BIGINT)])) AS blk
        |       FROM a),
        |bb AS (SELECT *,
        |         unnest(list_distinct([CAST(floor(b_bal / 100) AS BIGINT),
        |           CAST(floor((b_bal - 1) / 100) AS BIGINT)])) AS blk
        |       FROM b),
        |cand AS (SELECT DISTINCT a_id, b_id,
        |           CAST(a_name = b_name AS INT) AS agr_name,
        |           CAST(abs(bal_l - b_bal * 100) <= 50 AS INT) AS agr_bal,
        |           coalesce(CAST(a_seg = b_seg AS INT), 0) AS agr_seg,
        |           CAST(b_seg IS NULL AS INT) AS seg_missing
        |         FROM ab JOIN bb
        |           ON ab.a_nation = bb.b_nation AND ab.blk = bb.blk),
        |scored AS (SELECT a_id, b_id,
        |             CAST(CASE WHEN agr_name = 1 THEN 24 ELSE -8 END
        |               + CASE WHEN agr_bal = 1 THEN 10 ELSE -6 END
        |               + CASE WHEN seg_missing = 1 THEN 0
        |                      WHEN agr_seg = 1 THEN 6 ELSE -4 END AS INT)
        |               AS score
        |           FROM cand)
        |SELECT a_id, b_id, score,
        |       CASE WHEN score >= 30 THEN 'match' ELSE 'possible' END
        |         AS decision
        |FROM scored WHERE score >= 5""".stripMargin,
    "link_eval" -> // precision/recall/F1 in exact integer e4 ratios
      """WITH a AS (SELECT c_custkey AS a_id, substr(c_name, 10, 9) AS a_name,
        |             c_nationkey AS a_nation, c_acctbal AS a_bal,
        |             c_mktsegment AS a_seg FROM customer),
        |b AS (SELECT c_custkey AS b_id,
        |        CASE WHEN c_custkey % 11 = 0
        |             THEN substr(c_name, 10, 7) || substr(c_name, 18, 1)
        |                  || substr(c_name, 17, 1)
        |             ELSE substr(c_name, 10, 9) END AS b_name,
        |        c_nationkey AS b_nation,
        |        CAST(floor((c_acctbal * 100 + 50) / 100) AS BIGINT) AS b_bal,
        |        CASE WHEN c_custkey % 5 = 0 THEN NULL
        |             ELSE c_mktsegment END AS b_seg
        |      FROM customer),
        |ab AS (SELECT *, CAST(floor(a_bal * 100 + 0.5) AS BIGINT) AS bal_l,
        |         unnest(list_distinct([CAST(floor(a_bal / 100) AS BIGINT),
        |           CAST(floor((a_bal - 1) / 100) AS BIGINT)])) AS blk
        |       FROM a),
        |bb AS (SELECT *,
        |         unnest(list_distinct([CAST(floor(b_bal / 100) AS BIGINT),
        |           CAST(floor((b_bal - 1) / 100) AS BIGINT)])) AS blk
        |       FROM b),
        |cand AS (SELECT DISTINCT a_id, b_id,
        |           CAST(a_name = b_name AS INT) AS agr_name,
        |           CAST(abs(bal_l - b_bal * 100) <= 50 AS INT) AS agr_bal,
        |           coalesce(CAST(a_seg = b_seg AS INT), 0) AS agr_seg,
        |           CAST(b_seg IS NULL AS INT) AS seg_missing
        |         FROM ab JOIN bb
        |           ON ab.a_nation = bb.b_nation AND ab.blk = bb.blk),
        |scored AS (SELECT a_id, b_id,
        |             CASE WHEN agr_name = 1 THEN 24 ELSE -8 END
        |               + CASE WHEN agr_bal = 1 THEN 10 ELSE -6 END
        |               + CASE WHEN seg_missing = 1 THEN 0
        |                      WHEN agr_seg = 1 THEN 6 ELSE -4 END AS score
        |           FROM cand),
        |cls AS (SELECT a_id, b_id,
        |          CASE WHEN score >= 30 THEN 'match' ELSE 'possible' END
        |            AS decision
        |        FROM scored WHERE score >= 5),
        |agg AS (SELECT
        |          CAST(sum(CASE WHEN decision = 'match' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_match,
        |          CAST(sum(CASE WHEN decision = 'match' AND a_id = b_id
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_match_true,
        |          CAST(sum(CASE WHEN decision = 'possible' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_possible
        |        FROM cls),
        |t AS (SELECT count(*) AS n_truth FROM customer)
        |SELECT n_match, n_match_true, n_possible,
        |       CAST((n_match_true * 20000 + n_match) // (2 * n_match)
        |         AS DOUBLE) / 10000.0 AS prec,
        |       CAST((n_match_true * 20000 + n_truth) // (2 * n_truth)
        |         AS DOUBLE) / 10000.0 AS recall,
        |       CAST((n_match_true * 2 * 20000 + n_match + n_truth)
        |         // (2 * (n_match + n_truth)) AS DOUBLE) / 10000.0 AS f1
        |FROM agg CROSS JOIN t""".stripMargin,
    "link_name_blocks" ->
      """WITH v AS (SELECT p_brand, p_name, split_part(p_name, ' ', 1) AS tok,
        |             count(*) AS n_entities
        |           FROM part GROUP BY 1, 2, 3)
        |SELECT tok, p_brand, count(*) AS n_names,
        |       CAST(sum(n_entities) AS BIGINT) AS n_entities,
        |       count(*) * (count(*) - 1) // 2 AS n_pairs
        |FROM v GROUP BY 1, 2""".stripMargin,
    "link_dl_names" -> // DuckDB's damerau_levenshtein is the same
      // UNRESTRICTED definition (probed: DL('ca','abc')=2, DL('ab','ba')=1)
      """WITH v AS MATERIALIZED (
        |  SELECT p_brand, p_name, split_part(p_name, ' ', 1) AS tok,
        |         count(*) AS n_entities
        |  FROM part GROUP BY 1, 2, 3)
        |SELECT a.p_brand, a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT)
        |         AS dist,
        |       a.n_entities * b.n_entities AS entity_pairs
        |FROM v a JOIN v b
        |  ON a.tok = b.tok AND a.p_brand = b.p_brand AND a.p_name < b.p_name
        |WHERE damerau_levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,
    "link_jw_names" -> // DuckDB's jaro_winkler_similarity semantics
      // pinned by an 80k-random-pair probe: greedy matching with window
      // max(l1,l2)/2-1, FLOORED half-transpositions, boost iff J >= 0.7;
      // round(x*1e6) is safe because the Spark side is the exact
      // rational's half-up e6 and the spec pins every fixture pair away
      // from half-integer boundaries
      """WITH v AS MATERIALIZED (
        |  SELECT p_brand, p_name, split_part(p_name, ' ', 1) AS tok,
        |         count(*) AS n_entities
        |  FROM part GROUP BY 1, 2, 3)
        |SELECT a.p_brand, a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(round(jaro_winkler_similarity(a.p_name, b.p_name)
        |         * 1000000) AS BIGINT) AS jw_e6,
        |       a.n_entities * b.n_entities AS entity_pairs
        |FROM v a JOIN v b
        |  ON a.tok = b.tok AND a.p_brand = b.p_brand AND a.p_name < b.p_name
        |WHERE CAST(round(jaro_winkler_similarity(a.p_name, b.p_name)
        |  * 1000000) AS BIGINT) >= 700000""".stripMargin,
    "link_name_clusters" -> // min-label closure over the matched name
      // graph, singletons kept via the LEFT JOIN (comp = own node)
      """WITH RECURSIVE v AS MATERIALIZED (
        |  SELECT p_brand, p_name, split_part(p_name, ' ', 1) AS tok,
        |         count(*) AS n_entities,
        |         p_brand || '|' || p_name AS node
        |  FROM part GROUP BY 1, 2, 3, 5),
        |m AS MATERIALIZED (
        |  SELECT a.node AS doc_a, b.node AS doc_b
        |  FROM v a JOIN v b
        |    ON a.tok = b.tok AND a.p_brand = b.p_brand AND a.p_name < b.p_name
        |  WHERE damerau_levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3),
        |edges AS MATERIALIZED (
        |  SELECT doc_a AS src, doc_b AS dst FROM m
        |  UNION SELECT doc_b, doc_a FROM m),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |labels AS MATERIALIZED (
        |  SELECT src AS node, least(src, min(dst)) AS comp
        |  FROM reach GROUP BY src)
        |SELECT coalesce(l.comp, v.node) AS comp,
        |       min(v.p_name) AS canonical_name,
        |       count(*) AS n_names,
        |       CAST(sum(v.n_entities) AS BIGINT) AS n_entities
        |FROM v LEFT JOIN labels l ON l.node = v.node
        |GROUP BY 1""".stripMargin,
    "q_skyline" -> // the O(n^2) dominance form the Spark plan must NOT use
      """SELECT p_partkey, p_retailprice, p_size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice
        |    AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice
        |         OR b.p_size > a.p_size))""".stripMargin,
    "incr_agg_merge" -> // full recompute: the merged partials must equal it.
      // DECIMAL(18,2) mirrors the Spark partial state - the sum is exact,
      // so merge order cannot drift an ulp. The 4-dp average is rounded
      // half-up in INTEGER fixed point ((cents*200 + n) // (2n)), never
      // round(double/n, 4): a 2-dp sum over n can hit an exact .00005 tie
      // (264515.44125...) where Spark's decimal-string HALF_UP and
      // DuckDB's binary-double rounding disagree by 1e-4.
      """SELECT CAST(o_orderdate AS DATE) AS day,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_orders,
        |       CAST((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |             * 200 + count(*)) // (2 * count(*)) AS DOUBLE)
        |         / 10000.0 AS avg_order
        |FROM orders
        |GROUP BY 1""".stripMargin,
    "incr_topk_maintain" -> // full recompute: one window over ALL orders
      // — the maintained merge must reproduce it exactly
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             CAST(row_number() OVER (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
        |               AS rank
        |           FROM orders)
        |SELECT o_orderpriority, rank, o_orderkey, o_totalprice
        |FROM r WHERE rank <= 10""".stripMargin,
    "incr_join_maintain" -> // full-recompute join: the delta-rule union
      // must equal it exactly (counts + decimal sums are associative).
      """SELECT c_mktsegment,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "sketch_kmv_overlap" -> // identical sketches from the identical
      // 60-bit hashes, estimator recomputed from first principles — the
      // merge, the theta-style sample ratio, and the exact certificate
      // all certified bit-for-bit
      """WITH f AS (SELECT o_custkey AS v,
        |             max(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
        |                 THEN 1 ELSE 0 END) AS a,
        |             max(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
        |                 THEN 1 ELSE 0 END) AS b
        |           FROM orders GROUP BY 1),
        |g AS (SELECT v, a, b,
        |        CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15) AS BIGINT)
        |          AS hv
        |      FROM f WHERE a = 1 OR b = 1),
        |ska AS (SELECT hv FROM g WHERE a = 1 ORDER BY hv LIMIT 64),
        |skb AS (SELECT hv FROM g WHERE b = 1 ORDER BY hv LIMIT 64),
        |sku AS (SELECT hv FROM
        |          (SELECT hv FROM ska UNION SELECT hv FROM skb) u
        |        ORDER BY hv LIMIT 64),
        |ea AS (SELECT count(*) AS m, max(hv) AS kth FROM ska),
        |eb AS (SELECT count(*) AS m, max(hv) AS kth FROM skb),
        |eu AS (SELECT count(*) AS m, max(hv) AS kth FROM sku),
        |cx AS (SELECT count(*) AS cnt FROM sku
        |       WHERE hv IN (SELECT hv FROM ska)
        |         AND hv IN (SELECT hv FROM skb)),
        |ex AS (SELECT CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS exact_intersection FROM f)
        |SELECT
        |  CASE WHEN ea.m < 64 THEN ea.m
        |       ELSE CAST(floor(63 * 1152921504606846976.0 / ea.kth) AS BIGINT)
        |  END AS est_a,
        |  CASE WHEN eb.m < 64 THEN eb.m
        |       ELSE CAST(floor(63 * 1152921504606846976.0 / eb.kth) AS BIGINT)
        |  END AS est_b,
        |  CASE WHEN eu.m < 64 THEN eu.m
        |       ELSE CAST(floor(63 * 1152921504606846976.0 / eu.kth) AS BIGINT)
        |  END AS est_union,
        |  CAST(floor(CAST(cx.cnt AS DOUBLE) *
        |    (CASE WHEN eu.m < 64 THEN eu.m
        |          ELSE CAST(floor(63 * 1152921504606846976.0 / eu.kth) AS BIGINT)
        |     END) / eu.m) AS BIGINT) AS est_intersection,
        |  CAST((cx.cnt * 2000000 + eu.m) // (2 * eu.m) AS DOUBLE) / 1000000.0
        |    AS jaccard,
        |  ex.exact_intersection
        |FROM ea, eb, eu, cx, ex""".stripMargin,
    "sketch_sample_quantile" -> // the identical bottom-k-by-hash sample
      // (same md5-derived 60-bit hashes, same (hv, v) order), the merged
      // ALL sample rebuilt from the per-group samples exactly as Spark
      // merges them, and the same rank-selection arithmetic — estimate,
      // merge, and exact certificate all bit-for-bit
      """WITH base AS (SELECT o_orderpriority AS grp,
        |                CAST(o_totalprice AS DOUBLE) AS v,
        |                CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
        |                     1, 15) AS BIGINT) AS hv
        |              FROM orders
        |              WHERE o_totalprice IS NOT NULL
        |                AND o_orderkey IS NOT NULL),
        |kept AS (SELECT grp, v, hv FROM
        |           (SELECT grp, v, hv, row_number() OVER
        |              (PARTITION BY grp ORDER BY hv, v) AS srn FROM base)
        |         WHERE srn <= 64),
        |merged AS (SELECT 'ALL' AS grp, v, hv FROM
        |             (SELECT v, hv, row_number() OVER
        |                (ORDER BY hv, v) AS srn FROM kept)
        |           WHERE srn <= 64),
        |allsamp AS (SELECT grp, v FROM kept
        |            UNION ALL SELECT grp, v FROM merged),
        |sel AS (SELECT grp, v,
        |          row_number() OVER (PARTITION BY grp ORDER BY v) AS vrn,
        |          count(*) OVER (PARTITION BY grp) AS m
        |        FROM allsamp),
        |est AS (SELECT grp, max(m) AS m,
        |          round(min(CASE WHEN vrn = CEIL(0.5 * m) THEN v END), 2)
        |            AS est_p50,
        |          round(min(CASE WHEN vrn = CEIL(0.9 * m) THEN v END), 2)
        |            AS est_p90
        |        FROM sel GROUP BY 1),
        |counts AS (SELECT grp, count(*) AS n_rows FROM base GROUP BY 1
        |           UNION ALL SELECT 'ALL', count(*) FROM base),
        |ex AS (SELECT grp, v,
        |         row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
        |         count(*) OVER (PARTITION BY grp) AS n
        |       FROM base),
        |exact_per AS (SELECT grp,
        |         round(min(CASE WHEN rn = CEIL(0.5 * n) THEN v END), 2)
        |           AS exact_p50,
        |         round(min(CASE WHEN rn = CEIL(0.9 * n) THEN v END), 2)
        |           AS exact_p90
        |       FROM ex GROUP BY 1),
        |exact_all AS (SELECT * FROM exact_per
        |  UNION ALL
        |  SELECT 'ALL' AS grp,
        |    round(min(CASE WHEN rn = CEIL(0.5 * n) THEN v END), 2),
        |    round(min(CASE WHEN rn = CEIL(0.9 * n) THEN v END), 2)
        |  FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |          count(*) OVER () AS n FROM base))
        |SELECT e.grp, c.n_rows, e.m, e.est_p50, e.est_p90,
        |       x.exact_p50, x.exact_p90
        |FROM est e JOIN counts c ON e.grp = c.grp
        |JOIN exact_all x ON e.grp = x.grp
        |ORDER BY e.grp""".stripMargin,
    "incr_quantile_maintain" -> // union-then-truncate of the two
      // bottom-64 samples == bottom-64 of the union (hash-deterministic
      // monoid), so the oracle replays the maintenance path verbatim
      """WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
        |         AS BIGINT) AS hv,
        |    (CAST(o_orderdate AS DATE) >= DATE '1998-01-01') AS is_delta
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL),
        |kb AS (SELECT v, hv FROM
        |         (SELECT v, hv, row_number() OVER (ORDER BY hv, v) AS srn
        |          FROM base WHERE NOT is_delta) WHERE srn <= 64),
        |kd AS (SELECT v, hv FROM
        |         (SELECT v, hv, row_number() OVER (ORDER BY hv, v) AS srn
        |          FROM base WHERE is_delta) WHERE srn <= 64),
        |merged AS (SELECT v, hv FROM
        |             (SELECT v, hv, row_number() OVER (ORDER BY hv, v) AS srn
        |              FROM (SELECT * FROM kb UNION ALL SELECT * FROM kd))
        |           WHERE srn <= 64),
        |sel AS (SELECT v, row_number() OVER (ORDER BY v) AS vrn,
        |          count(*) OVER () AS m FROM merged),
        |est AS (SELECT CAST(max(m) AS BIGINT) AS m,
        |          round(min(CASE WHEN vrn = CEIL(0.5 * m) THEN v END), 2)
        |            AS est_p50,
        |          round(min(CASE WHEN vrn = CEIL(0.9 * m) THEN v END), 2)
        |            AS est_p90
        |        FROM sel),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM base),
        |ex AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |         count(*) OVER () AS n FROM base),
        |exact AS (SELECT
        |    round(min(CASE WHEN rn = CEIL(0.5 * n) THEN v END), 2)
        |      AS exact_p50,
        |    round(min(CASE WHEN rn = CEIL(0.9 * n) THEN v END), 2)
        |      AS exact_p90
        |  FROM ex)
        |SELECT n_rows, m, est_p50, est_p90, exact_p50, exact_p90
        |FROM est, cnt, exact""".stripMargin,
    "sketch_kmv_distinct" -> // same KMV sketch from the same 60-bit hashes;
      // the ALL row here is computed over all hashes directly, certifying
      // the Spark side's sketch-MERGE path against first principles
      """WITH h AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS grp,
        |                  o_custkey,
        |                  CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
        |                       AS BIGINT) AS hv
        |           FROM orders),
        |dh AS (SELECT DISTINCT grp, hv FROM h),
        |rk AS (SELECT grp, hv,
        |              row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn,
        |              count(*) OVER (PARTITION BY grp) AS m
        |       FROM dh),
        |per AS (SELECT grp,
        |               CASE WHEN max(m) < 64 THEN max(m)
        |                    ELSE CAST(floor(63.0 * 1152921504606846976.0 /
        |                         max(CASE WHEN rn = 64 THEN hv END)) AS BIGINT)
        |               END AS est_distinct
        |        FROM rk WHERE rn <= 64 GROUP BY grp),
        |ex AS (SELECT grp, count(DISTINCT o_custkey) AS exact_distinct
        |       FROM h GROUP BY grp),
        |ga AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
        |              count(*) OVER () AS m
        |       FROM (SELECT DISTINCT hv FROM h)),
        |gall AS (SELECT 'ALL' AS grp,
        |                CASE WHEN max(m) < 64 THEN max(m)
        |                     ELSE CAST(floor(63.0 * 1152921504606846976.0 /
        |                          max(CASE WHEN rn = 64 THEN hv END)) AS BIGINT)
        |                END AS est_distinct,
        |                (SELECT count(DISTINCT o_custkey) FROM h) AS exact_distinct
        |         FROM ga WHERE rn <= 64)
        |SELECT per.grp, CAST(per.est_distinct AS BIGINT) AS est_distinct,
        |       CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
        |FROM per JOIN ex ON per.grp = ex.grp
        |UNION ALL
        |SELECT grp, CAST(est_distinct AS BIGINT), CAST(exact_distinct AS BIGINT)
        |FROM gall
        |ORDER BY grp""".stripMargin,
    "ts_backlog_sweep" -> // same net-event collapse and keyed running sum
      """WITH iv AS (SELECT l.l_suppkey AS supp,
        |              CAST(o.o_orderdate AS DATE) AS odate,
        |              CAST(l.l_shipdate AS DATE) AS ship
        |            FROM lineitem l
        |            JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |ev AS (SELECT supp, d, CAST(sum(delta) AS BIGINT) AS net FROM (
        |         SELECT supp, odate AS d, 1 AS delta FROM iv
        |         UNION ALL
        |         SELECT supp, ship AS d, -1 AS delta FROM iv)
        |       GROUP BY 1, 2),
        |sw AS (SELECT supp, d,
        |              sum(net) OVER (PARTITION BY supp ORDER BY d
        |                ROWS UNBOUNDED PRECEDING) AS open_now
        |       FROM ev),
        |pk AS (SELECT supp, d, open_now,
        |              max(open_now) OVER (PARTITION BY supp) AS peak_open
        |       FROM sw)
        |SELECT supp, CAST(max(peak_open) AS BIGINT) AS peak_open,
        |       min(d) AS peak_date
        |FROM pk WHERE open_now = peak_open GROUP BY 1
        |ORDER BY peak_open DESC, supp
        |LIMIT 20""".stripMargin,
    "corpus_vocab_growth" -> // same integer thresholds, same two
      // aggregates from first principles
      """WITH tok AS (SELECT doc_id,
        |               unnest(regexp_split_to_array(trim(text), '\s+'))
        |                 AS token
        |             FROM documents
        |             WHERE text IS NOT NULL AND doc_id IS NOT NULL),
        |fs AS (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY 1),
        |pd AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
        |mx AS (SELECT max(doc_id) AS max_doc FROM pd),
        |dec AS (SELECT d AS decile, (max_doc * d) // 10 AS thr
        |        FROM generate_series(1, 10) t(d), mx),
        |v AS (SELECT decile, CAST(count(*) AS BIGINT) AS vocab_size
        |      FROM fs, dec WHERE first_doc <= thr GROUP BY 1),
        |vol AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |        FROM pd, dec WHERE doc_id <= thr GROUP BY 1)
        |SELECT CAST(vol.decile AS BIGINT) AS decile, vol.n_docs,
        |       vol.total_tokens, v.vocab_size,
        |       CAST((v.vocab_size * 2000000 + vol.total_tokens)
        |            // (2 * vol.total_tokens) AS DOUBLE) / 1000000.0
        |         AS type_token_ratio
        |FROM vol JOIN v USING (decile)
        |ORDER BY 1""".stripMargin,
    "sql_function_surface" -> // exact distinct + the Morton checksum via
      // the closed form (bit i of x -> 4^i, bit i of y -> 2*4^i over
      // 10-bit residues)
      """WITH b AS (SELECT o_orderpriority, o_custkey,
        |             o_custkey % 1024 AS x, o_orderkey % 1024 AS y
        |           FROM orders)
        |SELECT o_orderpriority AS grp,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
        |       CAST(sum(
        |           ((x // 1) % 2) * 1       + ((y // 1) % 2) * 2
        |         + ((x // 2) % 2) * 4       + ((y // 2) % 2) * 8
        |         + ((x // 4) % 2) * 16      + ((y // 4) % 2) * 32
        |         + ((x // 8) % 2) * 64      + ((y // 8) % 2) * 128
        |         + ((x // 16) % 2) * 256    + ((y // 16) % 2) * 512
        |         + ((x // 32) % 2) * 1024   + ((y // 32) % 2) * 2048
        |         + ((x // 64) % 2) * 4096   + ((y // 64) % 2) * 8192
        |         + ((x // 128) % 2) * 16384 + ((y // 128) % 2) * 32768
        |         + ((x // 256) % 2) * 65536 + ((y // 256) % 2) * 131072
        |         + ((x // 512) % 2) * 262144
        |         + ((y // 512) % 2) * 524288) AS BIGINT) AS zsum
        |FROM b GROUP BY 1
        |ORDER BY grp""".stripMargin,
    "bitmap_distinct" -> // the bitmap path is exact, so the oracle is the
      // plain distinct count — certifying build, partial-union, AND the
      // cross-group merge (the ALL row) end to end
      """SELECT CAST(o_orderpriority AS VARCHAR) AS grp,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT 'ALL' AS grp, CAST(count(DISTINCT o_custkey) AS BIGINT)
        |FROM orders
        |ORDER BY grp""".stripMargin,
    "bitmap_retention" -> // exact pairwise set algebra from first
      // principles: distinct (year, customer) pairs, consecutive-year
      // self-join for the intersection, rates in the same pure-BIGINT
      // half-up fixed point as the engine's exactRatio
      """WITH y AS (SELECT DISTINCT
        |             CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |             o_custkey
        |           FROM orders WHERE o_custkey IS NOT NULL),
        |c AS (SELECT yr, CAST(count(*) AS BIGINT) AS n FROM y GROUP BY 1),
        |i AS (SELECT a.yr AS ya, CAST(count(*) AS BIGINT) AS n_and
        |      FROM y a JOIN y b
        |        ON b.o_custkey = a.o_custkey AND b.yr = a.yr + 1
        |      GROUP BY 1)
        |SELECT ca.yr AS bucket_a, cb.yr AS bucket_b, ca.n AS n_a,
        |       cb.n AS n_b,
        |       COALESCE(i.n_and, 0) AS n_retained,
        |       ca.n - COALESCE(i.n_and, 0) AS n_churned,
        |       cb.n - COALESCE(i.n_and, 0) AS n_new,
        |       CAST((COALESCE(i.n_and, 0) * 2000000 + ca.n) // (2 * ca.n)
        |            AS DOUBLE) / 1000000.0 AS retention,
        |       CAST((COALESCE(i.n_and, 0) * 2000000
        |             + (ca.n + cb.n - COALESCE(i.n_and, 0)))
        |            // (2 * (ca.n + cb.n - COALESCE(i.n_and, 0)))
        |            AS DOUBLE) / 1000000.0 AS jaccard
        |FROM c ca JOIN c cb ON cb.yr = ca.yr + 1
        |LEFT JOIN i ON i.ya = ca.yr
        |ORDER BY bucket_a""".stripMargin,
    "sketch_hll_distinct" -> // same registers from the same 60-bit hashes:
      // idx = top 11 bits, rho = 50 - bitlength(49-bit suffix), Z kept in
      // exact BIGINT (1<<(50-mj)); the ALL row recomputed over all hashes
      // directly certifies the Spark side's register-max MERGE path. The
      // estimator numerator is ONE shared double literal (alpha*m^2*2^50,
      // printed from graft.functions.Hll.EstNumerator), so the single
      // division is identical IEEE arithmetic on both engines.
      ("""WITH h AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS grp,
        |                  o_custkey,
        |                  CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
        |                       AS BIGINT) AS hv
        |           FROM orders WHERE o_custkey IS NOT NULL),
        |r AS (SELECT grp, hv // 562949953421312 AS idx,
        |             hv % 562949953421312 AS sfx FROM h),
        |m AS (SELECT grp, idx,
        |             max(CASE WHEN sfx = 0 THEN 50
        |                      ELSE 50 - length(bin(sfx)) END) AS mj
        |      FROM r GROUP BY 1, 2),
        |z AS (SELECT grp,
        |             CAST(sum(CAST(1 AS BIGINT) << (50 - mj))
        |               + (2048 - count(*)) * (CAST(1 AS BIGINT) << 50)
        |               AS BIGINT) AS zs,
        |             CAST(2048 - count(*) AS BIGINT) AS zero_regs
        |      FROM m GROUP BY 1),
        |ex AS (SELECT grp, CAST(count(DISTINCT o_custkey) AS BIGINT)
        |                AS exact_distinct
        |       FROM h GROUP BY 1),
        |ma AS (SELECT idx,
        |              max(CASE WHEN sfx = 0 THEN 50
        |                       ELSE 50 - length(bin(sfx)) END) AS mj
        |       FROM r GROUP BY 1),
        |za AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (50 - mj))
        |                + (2048 - count(*)) * (CAST(1 AS BIGINT) << 50)
        |                AS BIGINT) AS zs,
        |              CAST(2048 - count(*) AS BIGINT) AS zero_regs
        |       FROM ma)
        |SELECT z.grp, CAST(floor(""".stripMargin +
        graft.functions.Hll.EstNumerator.toString +
        """ / z.zs) AS BIGINT) AS est_distinct,
        |       z.zero_regs, ex.exact_distinct
        |FROM z JOIN ex ON z.grp = ex.grp
        |UNION ALL
        |SELECT 'ALL' AS grp, CAST(floor(""".stripMargin +
        graft.functions.Hll.EstNumerator.toString +
        """ / za.zs) AS BIGINT) AS est_distinct,
        |       za.zero_regs,
        |       (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM h)
        |         AS exact_distinct
        |FROM za
        |ORDER BY grp""".stripMargin),
    "graph_triangles" -> // direct triple-join census: the O(wedges) form
      // the fixture affords, certifying the oriented plan's count on the
      // same support>=2 strong-tie edge set
      """WITH items AS (SELECT basket, item FROM (
        |            SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
        |            FROM (SELECT DISTINCT l_orderkey AS basket,
        |                         l_partkey AS item FROM lineitem))
        |          WHERE bsz <= 1000),
        |e AS (SELECT a.item AS u, b.item AS v
        |      FROM items a JOIN items b
        |        ON a.basket = b.basket AND a.item < b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS deg
        |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |tri AS (SELECT count(*) AS t FROM e ab
        |        JOIN e bc ON bc.u = ab.v
        |        JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
        |wed AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS w FROM deg)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       (SELECT t FROM tri) AS n_triangles,
        |       CAST((3 * (SELECT t FROM tri) * 2000000 + (SELECT w FROM wed))
        |            // (2 * (SELECT w FROM wed)) AS DOUBLE) / 1000000.0
        |         AS clustering""".stripMargin,
    "assoc_frequent_triples" -> // same L1 restriction (answer-preserving
      // by A-priori monotonicity), then the direct triple join
      """WITH d AS MATERIALIZED (SELECT DISTINCT doc_id,
        |             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |           FROM documents),
        |n AS MATERIALIZED (SELECT ceil(count(DISTINCT doc_id) * 0.25) AS min_sup FROM d),
        |l1 AS MATERIALIZED (SELECT token FROM d CROSS JOIN n
        |       GROUP BY token, min_sup HAVING count(*) >= min_sup),
        |i AS MATERIALIZED (SELECT * FROM d WHERE token IN (SELECT token FROM l1))
        |SELECT a.token AS tok_a, b.token AS tok_b, c.token AS tok_c,
        |       count(*) AS support
        |FROM i a
        |JOIN i b ON a.doc_id = b.doc_id AND a.token < b.token
        |JOIN i c ON a.doc_id = c.doc_id AND b.token < c.token
        |GROUP BY 1, 2, 3
        |HAVING count(*) >= (SELECT min_sup FROM n)
        |ORDER BY support DESC, tok_a, tok_b, tok_c
        |LIMIT 20""".stripMargin,
    "latest_view" ->
      """WITH latest AS (
        |  SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE CAST(o.o_orderdate AS DATE) =
        |        (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT o_orderkey, o_custkey, c_name, o_totalprice,
        |       CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS forecast_id
        |FROM latest""".stripMargin,
    "p1_rename_shim" ->
      "SELECT l_orderkey, l_linenumber, l_quantity AS quantity FROM lineitem",
    "p2_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 25""".stripMargin,
    "p3_null_drop" ->
      """SELECT event_id, user_id, event_type, value, props FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type IS NOT NULL AND value IS NOT NULL
        |  AND props IS NOT NULL""".stripMargin,
    "p4_flatten" ->
      """SELECT p_partkey,
        |       CAST(unnest(generate_series(1, len(parts))) - 1 AS INT) AS pos,
        |       unnest(parts) AS word
        |FROM (SELECT p_partkey, string_split(p_type, ' ') AS parts FROM part)""".stripMargin,
    "p5_unit_scale" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(trunc(l_quantity * 1000) AS INT) AS qty_milli
        |FROM lineitem""".stripMargin,
    "p6_date_arith" ->
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) + 30 AS due_date FROM orders",
    "p7_projection" ->
      "SELECT l_orderkey, l_partkey, l_shipdate FROM lineitem",
    "p8_date_trunc" ->
      "SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date FROM lineitem",
    "p9_classify" ->
      """SELECT c_custkey,
        |       CASE WHEN c_acctbal > 8000 THEN 'north'
        |            WHEN c_acctbal < -800 THEN 'south'
        |            WHEN c_mktsegment = 'BUILDING' THEN 'north'
        |            ELSE 'south' END AS hemisphere
        |FROM customer""".stripMargin,
    "p10_first_distinct" ->
      "SELECT DISTINCT o_orderpriority AS priority FROM orders",
    "j1_left_join_2key" ->
      """WITH dim AS (
        |  SELECT l_partkey, l_suppkey, count(*) AS ps_count
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT li.l_orderkey, li.l_linenumber, li.l_partkey, li.l_suppkey, dim.ps_count
        |FROM lineitem li LEFT JOIN dim
        |  ON li.l_partkey = dim.l_partkey AND li.l_suppkey = dim.l_suppkey""".stripMargin,
    "j2_inner_join" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "j3_cross_join" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "j4_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)""".stripMargin,
    "j6_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)""".stripMargin,
    "j7_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 300000)""".stripMargin,
    "j10_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1""".stripMargin,
    "f6_zorder_key" ->
      // per-bit reconstruction of the Morton interleave: x bits at even
      // positions, y bits at odd; disjoint bits, so sum == OR
      """WITH src AS (SELECT l_orderkey, l_linenumber,
        |                    l_partkey % 32768 AS x, l_suppkey % 32768 AS y
        |             FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       CAST(list_aggregate(
        |         [(((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i + 1))
        |          FOR i IN generate_series(0, 14)], 'sum') AS BIGINT) AS zkey
        |FROM src""".stripMargin,
    "p13_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin,
    "j9_bloom_semi" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM part p
        |              WHERE p.p_partkey = l.l_partkey AND p.p_size <= 5)
        |GROUP BY 1""".stripMargin,
    "p12_pivot" ->
      """SELECT l_returnflag,
        |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_f,
        |       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,
    "w4_ntile" ->
      """SELECT c_custkey, c_mktsegment,
        |       CAST(ntile(4) OVER (
        |         PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS BIGINT)
        |         AS quartile
        |FROM customer""".stripMargin,
    "a1_minmax_range" ->
      """SELECT (max(l_extendedprice) - min(l_extendedprice)) / (count(*) - 1)
        |       AS mean_step
        |FROM lineitem""".stripMargin,
    "a2_grouped_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(min(l_shipdate) AS DATE) AS first_ship,
        |       CAST(max(l_shipdate) AS DATE) AS last_ship,
        |       count(*) AS n_records
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "a3_global_max" ->
      "SELECT max(CAST(o_orderdate AS DATE)) AS latest FROM orders",
    "a4_dedup" ->
      """SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS d
        |FROM lineitem""".stripMargin,
    "w1_row_number" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(row_number() OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        |FROM orders""".stripMargin,
    "w5_global_row_number" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |       CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber,
        |                                        l_extendedprice) AS BIGINT)
        |         AS row_id
        |FROM lineitem""".stripMargin,
    "f1_wkt_polygon" ->
      """SELECT n_nationkey,
        |       printf('POLYGON((%d %d, %d %d, %d %d, %d %d, %d %d))',
        |              cx - 500, cy - 500, cx - 500, cy + 500, cx + 500, cy + 500,
        |              cx + 500, cy - 500, cx - 500, cy - 500) AS wkt
        |FROM (SELECT n_nationkey, CAST(n_nationkey AS BIGINT) * 1000 AS cx,
        |             CAST(n_regionkey AS BIGINT) * 1000 AS cy FROM nation)""".stripMargin,
    "f5_date_format" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d FROM orders",
    "s5_first_write_wins" ->
      """SELECT o_orderkey, 'old' AS src, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, 'new' AS src, o_totalprice FROM orders
        |WHERE o_orderkey NOT IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)""".stripMargin,
    "s6_last_write_wins" ->
      """WITH existing AS (
        |  SELECT o_custkey, count(*) AS n FROM orders
        |  WHERE o_orderstatus = 'F' GROUP BY 1),
        |incoming AS (
        |  SELECT o_custkey, count(*) AS n FROM orders
        |  WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT o_custkey, n FROM existing
        |WHERE o_custkey NOT IN (SELECT o_custkey FROM incoming)
        |UNION ALL
        |SELECT o_custkey, n FROM incoming""".stripMargin,
    "text_token_count" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents)
        |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |       CAST(list_aggregate(list_transform(toks,
        |         w -> CAST(ceil(length(w)/4.0) AS BIGINT)), 'sum') AS BIGINT) AS bpe_tokens
        |FROM t""".stripMargin,
    "curate_quality_prune" -> // same rank convention as a8:
      // quantile_disc == approx_percentile at exact accuracy
      """WITH s AS (SELECT lang,
        |             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
        |               AS n_toks
        |           FROM documents),
        |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |             quantile_disc(n_toks, 0.75) AS thr
        |      FROM s GROUP BY 1)
        |SELECT s.lang, t.thr, t.n_total,
        |       count(*) AS n_kept, CAST(sum(s.n_toks) AS BIGINT) AS toks_kept
        |FROM s JOIN t USING (lang) WHERE s.n_toks >= t.thr
        |GROUP BY 1, 2, 3""".stripMargin,
    "sample_weighted" ->
      """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text),'\s+') AS toks
        |           FROM documents),
        |q AS (SELECT doc_id, lang,
        |  round(least(1.0, len(toks)/50.0)*0.4
        |    + (len(list_filter(toks, w -> list_contains(
        |        ['the','a','and','of','to','in','is','that'], w)))
        |       / CAST(len(toks) AS DOUBLE))*0.3
        |    + (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))*0.3, 6) AS quality
        |  FROM t)
        |SELECT doc_id, lang, quality FROM q
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS BIGINT)
        |        / 65536.0 < quality * 0.3""".stripMargin,
    "mix_apply" -> // realize mix_plan's rates with the shared md5-unit
      // threshold; zero-draw sources survive via the left join back
      """WITH t(source, target_share) AS (
        |  VALUES ('src0', 0.3), ('src1', 0.2), ('src2', 0.1)),
        |c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM documents),
        |r AS (SELECT c.source, c.n_docs,
        |        round(least(1.0, coalesce(t.target_share, 0.025) * n.n_total
        |              / c.n_docs), 6) AS sample_rate
        |      FROM c LEFT JOIN t USING (source), n),
        |s AS (SELECT d.source, CAST(count(*) AS BIGINT) AS sampled_docs
        |      FROM documents d JOIN r USING (source)
        |      WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),1,4)
        |              AS BIGINT) / 65536.0 < r.sample_rate
        |      GROUP BY 1)
        |SELECT r.source, r.n_docs, r.sample_rate,
        |       CAST(coalesce(s.sampled_docs, 0) AS BIGINT) AS sampled_docs
        |FROM r LEFT JOIN s USING (source)""".stripMargin,
    "curate_epoch_plan" -> // token mass per source (the text_token_count
      // whitespace convention), budget = 0.5 x corpus tokens
      """WITH t(source, target_share) AS (
        |  VALUES ('src0', 0.3), ('src1', 0.2), ('src2', 0.1)),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |          AS BIGINT) AS n_tokens
        |      FROM documents GROUP BY 1),
        |n AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total_tokens FROM c)
        |SELECT c.source, c.n_docs, c.n_tokens,
        |  CAST(round(coalesce(t.target_share, 0.025), 6) AS DOUBLE)
        |    AS target_share,
        |  round(coalesce(t.target_share, 0.025) * n.total_tokens * 0.5, 4)
        |    AS needed_tokens,
        |  round(coalesce(t.target_share, 0.025) * n.total_tokens * 0.5
        |    / c.n_tokens, 6) AS epochs,
        |  coalesce(t.target_share, 0.025) * n.total_tokens * 0.5
        |    > CAST(c.n_tokens AS DOUBLE) AS upsampled
        |FROM c LEFT JOIN t USING (source), n""".stripMargin,
    "mix_plan" ->
      """WITH t(source, target_share) AS (
        |  VALUES ('src0', 0.3), ('src1', 0.2), ('src2', 0.1)),
        |c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM documents)
        |SELECT c.source, c.n_docs,
        |       CAST(round(coalesce(t.target_share, 0.025), 6) AS DOUBLE)
        |         AS target_share,
        |       round(least(1.0, coalesce(t.target_share, 0.025) * n.n_total
        |             / c.n_docs), 6) AS sample_rate,
        |       round(least(CAST(c.n_docs AS DOUBLE),
        |             coalesce(t.target_share, 0.025) * n.n_total), 4) AS expected_docs
        |FROM c LEFT JOIN t USING (source), n""".stripMargin,
    "sample_stratified" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (
        |           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM ranked WHERE rn <= ceil(n * 0.1)""".stripMargin,
    "length_buckets" ->
      """SELECT CAST(1 AS BIGINT) << (length(printf('%b', n_tokens)) - 1) AS bucket_lo,
        |       count(*) AS n_docs, min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM (SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
        |      FROM documents)
        |GROUP BY 1""".stripMargin,
    "text_repetition" ->
      """SELECT doc_id,
        |       CAST(len(ngrams) AS BIGINT) AS n_ngrams,
        |       CAST(len(list_distinct(ngrams)) AS BIGINT) AS n_distinct,
        |       CAST(((len(ngrams) - len(list_distinct(ngrams))) * 2000000
        |             + len(ngrams)) // (2 * len(ngrams)) AS DOUBLE) / 1000000.0
        |         AS rep_ratio
        |FROM (
        |  SELECT doc_id,
        |         [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, len(w) - 2)]
        |           AS ngrams
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3)""".stripMargin,
    "text_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text
        |         || CASE WHEN doc_id % 3 = 0
        |                 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
        |         || CASE WHEN doc_id % 4 = 0
        |                 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0
        |                 THEN ' call +1 415 555 01' || (doc_id % 90 + 10) ELSE '' END AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(regexp_replace(t,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |           '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g') AS text_redacted
        |  FROM aug)
        |SELECT doc_id, text_redacted,
        |       CAST(len(regexp_extract_all(text_redacted, '<EMAIL>|<IP>|<PHONE>')) AS BIGINT)
        |         AS n_pii
        |FROM red""".stripMargin,
    "events_funnel" ->
      """WITH f AS (
        |  SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS fv
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS fc
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= f.fv
        |    AND e.ts <= f.fv + INTERVAL 12 HOUR GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS fp
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.fc
        |    AND e.ts <= c.fc + INTERVAL 48 HOUR GROUP BY 1)
        |SELECT (SELECT count(*) FROM f) AS n_users,
        |       (SELECT count(fv) FROM f) AS n_viewed,
        |       (SELECT count(*) FROM c) AS n_clicked,
        |       (SELECT count(*) FROM p) AS n_purchased""".stripMargin,
    "events_anomaly" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
        |               FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, quantile_cont(cnt, 0.5) AS med
        |        FROM daily GROUP BY 1),
        |dev AS (SELECT daily.event_type, daily.d, daily.cnt, med.med,
        |               abs(daily.cnt - med.med) AS dev
        |        FROM daily JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT dev.event_type, dev.d, dev.cnt, dev.med, mad.mad,
        |       CASE WHEN mad.mad > 0 THEN round(dev.dev / mad.mad, 4) END AS robust_z,
        |       dev.dev > 3 * mad.mad AS is_anomaly
        |FROM dev JOIN mad USING (event_type)""".stripMargin,
    "feat_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
        |                  quantile_cont(l_extendedprice, 0.05) AS p_lo,
        |                  quantile_cont(l_extendedprice, 0.95) AS p_hi
        |           FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
        |       round(least(greatest(l.l_extendedprice, b.p_lo), b.p_hi), 6)
        |         AS clamped
        |FROM lineitem l JOIN b USING (l_returnflag)""".stripMargin,
    "skew_distinct_salted" -> // the oracle is the PLAIN distinct — the
      // hash match certifies value-salting changes the plan, never the
      // answer
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct
        |FROM lineitem WHERE l_partkey IS NOT NULL
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "incr_distinct_maintain" -> // full recompute per side + union: the
      // maintained bitmap totals must match counting from raw
      """WITH b AS (SELECT o_orderpriority AS grp, o_custkey AS id
        |           FROM orders
        |           WHERE o_orderkey % 10 <> 0 AND o_custkey IS NOT NULL),
        |d AS (SELECT o_orderpriority AS grp, o_custkey AS id
        |      FROM orders
        |      WHERE o_orderkey % 10 = 0 AND o_custkey IS NOT NULL),
        |sb AS (SELECT grp, count(DISTINCT id) AS n_base FROM b GROUP BY 1),
        |sd AS (SELECT grp, count(DISTINCT id) AS n_delta FROM d GROUP BY 1),
        |st AS (SELECT grp, count(DISTINCT id) AS n_total
        |       FROM (SELECT * FROM b UNION ALL SELECT * FROM d)
        |       GROUP BY 1)
        |SELECT st.grp,
        |       COALESCE(n_base, 0) AS n_base,
        |       COALESCE(n_delta, 0) AS n_delta,
        |       n_total,
        |       COALESCE(n_base, 0) + COALESCE(n_delta, 0) - n_total
        |         AS n_already_seen,
        |       n_total - COALESCE(n_base, 0) AS n_new_distinct
        |FROM st LEFT JOIN sb USING (grp) LEFT JOIN sd USING (grp)
        |ORDER BY grp""".stripMargin,
    "skew_hot_keys" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events
        |            WHERE user_id IS NOT NULL GROUP BY 1),
        |     t AS (SELECT count(*) AS total FROM events
        |           WHERE user_id IS NOT NULL)
        |SELECT user_id, cnt,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rnk,
        |       CAST((cnt * 2000000 + total) // (2 * total) AS DOUBLE) / 1000000.0
        |         AS share
        |FROM c, t
        |ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin,
    "skew_histogram" ->
      """WITH c AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) << (length(printf('%b', cnt)) - 1) AS bucket_lo,
        |       count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt
        |FROM c GROUP BY 1""".stripMargin,
    "skew_salt_plan" -> // same key census, rolled to the one-row shuffle
      // pre-flight; ceil-div mirrored as floor of ONE double division
      """WITH c AS (SELECT user_id AS k, count(*) AS cnt FROM events
        |           WHERE user_id IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |             count(*) AS n_keys, max(cnt) AS max_cnt FROM c),
        |h AS (SELECT min(k) AS hot_key FROM c, t WHERE cnt = max_cnt)
        |SELECT n_rows, n_keys, hot_key, max_cnt,
        |       CAST((max_cnt * 2000000 + n_rows) // (2 * n_rows) AS DOUBLE)
        |         / 1000000.0 AS hot_share,
        |       CAST((max_cnt * n_keys * 2000000 + n_rows) // (2 * n_rows)
        |         AS DOUBLE) / 1000000.0 AS skew_factor,
        |       CAST(floor(CAST(max_cnt * n_keys + n_rows - 1 AS DOUBLE)
        |         / CAST(n_rows AS DOUBLE)) AS BIGINT) AS salt_factor
        |FROM t, h""".stripMargin,
    "text_boilerplate" -> // positional 4-token chunk census per language
      """WITH t AS (SELECT doc_id, lang,
        |             regexp_split_to_array(trim(text), '\s+') AS a
        |           FROM documents),
        |s AS (SELECT doc_id, lang, a,
        |        unnest(generate_series(0, len(a) - 4, 4)) AS st
        |      FROM t WHERE len(a) >= 4),
        |c AS (SELECT DISTINCT doc_id, lang,
        |        array_to_string(a[st+1:st+4], ' ') AS chunk FROM s)
        |SELECT lang, chunk, count(*) AS df
        |FROM c GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY df DESC, lang, chunk LIMIT 20""".stripMargin,
    "curate_boilerplate_share" -> // per-doc share of census-flagged chunks
      """WITH t AS (SELECT doc_id, lang,
        |             regexp_split_to_array(trim(text), '\s+') AS a
        |           FROM documents),
        |s AS (SELECT doc_id, lang, a,
        |        unnest(generate_series(0, len(a) - 4, 4)) AS st
        |      FROM t WHERE len(a) >= 4),
        |c AS (SELECT DISTINCT doc_id, lang,
        |        array_to_string(a[st+1:st+4], ' ') AS chunk FROM s),
        |bp AS (SELECT lang, chunk FROM c GROUP BY 1, 2 HAVING count(*) >= 2),
        |pd AS (SELECT doc_id, count(*) AS n_chunks FROM c GROUP BY 1),
        |bd AS (SELECT c.doc_id, count(*) AS n_bp FROM c
        |       JOIN bp USING (lang, chunk) GROUP BY 1)
        |SELECT pd.doc_id, pd.n_chunks,
        |       COALESCE(bd.n_bp, 0) AS n_bp_chunks,
        |       CAST((COALESCE(bd.n_bp, 0) * 2000000 + pd.n_chunks)
        |         // (2 * pd.n_chunks) AS DOUBLE) / 1000000.0 AS bp_share
        |FROM pd LEFT JOIN bd ON pd.doc_id = bd.doc_id
        |ORDER BY bp_share DESC, pd.doc_id LIMIT 20""".stripMargin,
    "dedup_source_overlap" -> // sliding 4-gram source sets, pair census
      """WITH d AS (SELECT doc_id, source,
        |             regexp_split_to_array(trim(text), '\s+') AS a
        |           FROM documents),
        |g AS (SELECT DISTINCT source, array_to_string(a[s+1:s+4], ' ') AS gram
        |      FROM d, unnest(generate_series(0, len(a) - 4)) AS u(s)),
        |sz AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |             count(*) AS shared_grams
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_a, source_b, shared_grams,
        |       sa.n_grams AS na, sb.n_grams AS nb,
        |       CAST((shared_grams * 2000000 + least(sa.n_grams, sb.n_grams))
        |         // (2 * least(sa.n_grams, sb.n_grams)) AS DOUBLE)
        |         / 1000000.0 AS overlap_coef
        |FROM p JOIN sz sa ON p.source_a = sa.source
        |       JOIN sz sb ON p.source_b = sb.source
        |ORDER BY shared_grams DESC, source_a, source_b
        |LIMIT 20""".stripMargin,
    "dedup_yield" -> // content-global keep-min-id dedup, per-lang yield
      """WITH f AS (SELECT doc_id, lang,
        |             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |               AS fp,
        |             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |           FROM documents),
        |k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY 1),
        |kept AS (SELECT f.* FROM f JOIN k USING (fp, doc_id)),
        |b AS (SELECT lang, count(*) AS docs_before,
        |             CAST(sum(n_tokens) AS BIGINT) AS tokens_before
        |      FROM f GROUP BY 1),
        |a AS (SELECT lang, count(*) AS docs_after,
        |             CAST(sum(n_tokens) AS BIGINT) AS tokens_after
        |      FROM kept GROUP BY 1)
        |SELECT b.lang, docs_before,
        |       COALESCE(docs_after, 0) AS docs_after, tokens_before,
        |       COALESCE(tokens_after, 0) AS tokens_after,
        |       CAST(((tokens_before - COALESCE(tokens_after, 0)) * 2000000
        |         + tokens_before) // (2 * tokens_before) AS DOUBLE)
        |         / 1000000.0 AS token_removal_share
        |FROM b LEFT JOIN a ON b.lang = a.lang
        |ORDER BY b.lang""".stripMargin,
    "sim_sq8_error" -> // sim_topk_sq8's codebook + dequantization verbatim,
      // audited: e6-floored per-element |err| -> exact BIGINT aggregates
      """WITH v AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |d AS (SELECT u.i AS pos, min(vec[u.i]) AS mn,
        |             max(vec[u.i]) - min(vec[u.i]) AS span
        |      FROM v, unnest(generate_series(1, len(vec))) AS u(i) GROUP BY u.i),
        |cb AS (SELECT list(mn ORDER BY pos) AS mns,
        |              list(span ORDER BY pos) AS spans FROM d),
        |xq AS (SELECT vec_id, label, vec,
        |         list_transform(generate_series(1, len(vec)), i ->
        |           CASE WHEN spans[i] = 0 THEN mns[i]
        |                ELSE mns[i] + CAST(round((vec[i] - mns[i]) * 255
        |                     / spans[i]) AS INT) * spans[i] / 255 END) AS xqv
        |       FROM v CROSS JOIN cb),
        |e AS (SELECT label,
        |        CAST(floor(abs(vec[u.i] - xqv[u.i]) * 1e6) AS BIGINT) AS err
        |      FROM xq, unnest(generate_series(1, len(vec))) AS u(i))
        |SELECT label, count(*) AS n_elems,
        |       CAST(sum(err) AS BIGINT) AS sum_abs_err_e6,
        |       max(err) AS max_abs_err_e6,
        |       CAST(sum(err * err) AS BIGINT) AS sum_sq_err_e12,
        |       CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         AS mean_abs_err_e6
        |FROM e GROUP BY 1 ORDER BY label""".stripMargin,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |           FROM documents)
        |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |  CAST((len(list_filter(toks, w -> list_contains(
        |    ['the','a','and','of','to','in','is','that'], w))) * 2000000
        |    + len(toks)) // (2 * len(toks)) AS DOUBLE) / 1000000.0 AS stop_ratio,
        |  CAST((len(list_distinct(toks)) * 2000000 + len(toks))
        |    // (2 * len(toks)) AS DOUBLE) / 1000000.0 AS distinct_ratio,
        |  round(least(1.0, len(toks)/50.0)*0.4
        |    + (len(list_filter(toks, w -> list_contains(
        |        ['the','a','and','of','to','in','is','that'], w)))
        |       / CAST(len(toks) AS DOUBLE))*0.3
        |    + (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))*0.3, 6) AS quality
        |FROM t""".stripMargin,
    "text_readability" -> // same three counts, identical-double indices
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS w,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
        |      AS BIGINT), 1) AS s,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS sy
        |  FROM documents)
        |SELECT doc_id, w AS n_words, s AS n_sentences, sy AS n_syllables,
        |  round(CASE WHEN w > 0 THEN 206.835
        |    - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |    - 84.6 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE)) END, 6)
        |    AS flesch,
        |  round(CASE WHEN w > 0 THEN
        |    0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |    + 11.8 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))
        |    - 15.59 END, 6) AS fk_grade
        |FROM t""".stripMargin,
    "text_langid" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |           FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(toks, w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS en_h,
        |  len(list_filter(toks, w -> list_contains(['le','la','et','les','des','un','une','du'], w))) AS fr_h,
        |  len(list_filter(toks, w -> list_contains(['der','die','und','das','ein','mit','von','zu'], w))) AS de_h,
        |  len(list_filter(toks, w -> list_contains(['el','los','y','que','una','por','como','para'], w))) AS es_h
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN en_h + fr_h + de_h + es_h = 0 THEN 'und'
        |       WHEN en_h >= fr_h AND en_h >= de_h AND en_h >= es_h THEN 'en'
        |       WHEN fr_h >= de_h AND fr_h >= es_h THEN 'fr'
        |       WHEN de_h >= es_h THEN 'de'
        |       ELSE 'es' END AS lang_pred
        |FROM h""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,
    "bpe_learn" -> // three unrolled greedy merge rounds over the shared
      // fold chain (BpeFoldSql); see that constant for the run-parity
      // window rendering notes
      (BpeFoldSql + """
        |SELECT 1 AS merge_rank, l AS lhs, r AS rhs, cnt AS weighted_count FROM t1
        |UNION ALL SELECT 2, l, r, cnt FROM t2
        |UNION ALL SELECT 3, l, r, cnt FROM t3""".stripMargin),
    "bpe_encode" -> // the tokenizer APPLY path: the same learned chain,
      // read out as the encoded vocabulary (per-word token counts)
      (BpeFoldSql + """
        |SELECT word, n, CAST(length(word) AS BIGINT) AS n_chars,
        |       CAST(len(syms) AS BIGINT) AS n_tokens
        |FROM w3""".stripMargin),
    "bpe_encode_docs" -> // doc-level read-out of the same learned chain:
      // every sum CAST AS BIGINT (DuckDB auto-promotes to HUGEINT — the
      // eval_pr_curve type-parity lesson), compression as the shared
      // half-up integer rendering
      (BpeFoldSql + """
        |, dw AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents),
        |enc AS (SELECT word, CAST(len(syms) AS BIGINT) AS t FROM w3)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(length(dw.word)) AS BIGINT) AS n_chars,
        |  CAST(sum(t) AS BIGINT) AS n_tokens,
        |  CAST((CAST(sum(length(dw.word)) AS BIGINT) * 2000000
        |        + CAST(sum(t) AS BIGINT))
        |       // (2 * CAST(sum(t) AS BIGINT)) AS DOUBLE) / 1000000.0
        |    AS compression
        |FROM dw JOIN enc USING (word)
        |GROUP BY doc_id""".stripMargin),
    "bpe_top_pairs" ->
      """WITH vocab AS (
        |  SELECT word, count(*) AS n
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |        FROM documents)
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT word[i] AS "left", word[i+1] AS "right", n
        |  FROM vocab,
        |       (SELECT unnest(generate_series(1,
        |          (SELECT max(length(word)) FROM vocab))) AS i)
        |  WHERE i <= length(word) - 1)
        |SELECT "left", "right", CAST(sum(n) AS BIGINT) AS weighted_count
        |FROM pairs GROUP BY 1, 2
        |ORDER BY weighted_count DESC, "left", "right" LIMIT 20""".stripMargin,
    "dedup_incremental" ->
      """WITH ex AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |         min(doc_id) AS dup_of
        |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1),
        |b AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 7 = 0),
        |bb AS (
        |  SELECT doc_id, fp,
        |         CASE WHEN min(doc_id) OVER (PARTITION BY fp) < doc_id
        |              THEN min(doc_id) OVER (PARTITION BY fp) END AS dup_in_batch
        |  FROM b)
        |SELECT bb.doc_id, ex.dup_of, bb.dup_in_batch,
        |       (ex.dup_of IS NULL AND bb.dup_in_batch IS NULL) AS is_new
        |FROM bb LEFT JOIN ex USING (fp)""".stripMargin,
    "sample_hash" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS BIGINT) % 100 < 10""".stripMargin,
    "curate_corpus" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
        |              GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |      FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(toks, w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS en_h,
        |  len(list_filter(toks, w -> list_contains(['le','la','et','les','des','un','une','du'], w))) AS fr_h,
        |  len(list_filter(toks, w -> list_contains(['der','die','und','das','ein','mit','von','zu'], w))) AS de_h,
        |  len(list_filter(toks, w -> list_contains(['el','los','y','que','una','por','como','para'], w))) AS es_h
        |  FROM t),
        |l AS (SELECT doc_id,
        |  CASE WHEN en_h + fr_h + de_h + es_h = 0 THEN 'und'
        |       WHEN en_h >= fr_h AND en_h >= de_h AND en_h >= es_h THEN 'en'
        |       WHEN fr_h >= de_h AND fr_h >= es_h THEN 'fr'
        |       WHEN de_h >= es_h THEN 'de'
        |       ELSE 'es' END AS lang_pred
        |  FROM h),
        |q AS (SELECT doc_id,
        |  round(least(1.0, len(toks)/50.0)*0.4
        |    + (len(list_filter(toks, w -> list_contains(
        |        ['the','a','and','of','to','in','is','that'], w)))
        |       / CAST(len(toks) AS DOUBLE))*0.3
        |    + (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))*0.3, 6) AS quality
        |  FROM t)
        |SELECT k.doc_id, l.lang_pred, q.quality
        |FROM keep k JOIN l ON l.doc_id = k.doc_id JOIN q ON q.doc_id = k.doc_id
        |WHERE l.lang_pred = 'en' AND q.quality >= 0.5""".stripMargin,
    "prepare_training_set" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
        |              GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |      FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(toks, w -> list_contains(['the','a','and','of','to','in','is','that'], w))) AS en_h,
        |  len(list_filter(toks, w -> list_contains(['le','la','et','les','des','un','une','du'], w))) AS fr_h,
        |  len(list_filter(toks, w -> list_contains(['der','die','und','das','ein','mit','von','zu'], w))) AS de_h,
        |  len(list_filter(toks, w -> list_contains(['el','los','y','que','una','por','como','para'], w))) AS es_h
        |  FROM t),
        |l AS (SELECT doc_id,
        |  CASE WHEN en_h + fr_h + de_h + es_h = 0 THEN 'und'
        |       WHEN en_h >= fr_h AND en_h >= de_h AND en_h >= es_h THEN 'en'
        |       WHEN fr_h >= de_h AND fr_h >= es_h THEN 'fr'
        |       WHEN de_h >= es_h THEN 'de'
        |       ELSE 'es' END AS lang_pred
        |  FROM h),
        |q AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |  round(least(1.0, len(toks)/50.0)*0.4
        |    + (len(list_filter(toks, w -> list_contains(
        |        ['the','a','and','of','to','in','is','that'], w)))
        |       / CAST(len(toks) AS DOUBLE))*0.3
        |    + (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))*0.3, 6) AS quality
        |  FROM t),
        |train AS (
        |  SELECT k.doc_id, q.n_tokens, q.quality,
        |         l.lang_pred || '_' || (k.doc_id % 4) AS shard
        |  FROM keep k JOIN l ON l.doc_id = k.doc_id JOIN q ON q.doc_id = k.doc_id
        |  WHERE l.lang_pred = 'en' AND q.quality >= 0.5
        |    AND CAST('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)),1,4) AS BIGINT)
        |          % 100 < 90)
        |SELECT doc_id, shard, n_tokens, quality,
        |       CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY shard
        |         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         0) / 512.0) AS BIGINT) AS seq_id
        |FROM train""".stripMargin,
    "text_hashing_embed" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),'\s+')) AS w
        |              FROM documents),
        |c AS (SELECT doc_id,
        |        CAST(CAST('0x' || substr(md5(w),1,4) AS BIGINT) % 64 AS INT) AS dim,
        |        CASE WHEN substr(md5(w),5,1) >= '8' THEN CAST(1.0 AS DOUBLE)
        |             ELSE CAST(-1.0 AS DOUBLE) END AS sign
        |      FROM toks),
        |g AS (SELECT doc_id, dim, sum(sign) AS v FROM c GROUP BY 1, 2),
        |n AS (SELECT doc_id, sqrt(sum(v*v)) AS nrm FROM g GROUP BY 1)
        |SELECT g.doc_id, g.dim, round(g.v / n.nrm, 6) AS val
        |FROM g JOIN n USING (doc_id) WHERE n.nrm > 0""".stripMargin,
    "vocab_topk" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+')) AS token
        |           FROM documents)
        |SELECT token, count(*) AS n FROM t
        |GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 100""".stripMargin,
    "split_assign" ->
      """SELECT doc_id, lang,
        |       CASE WHEN b < 90 THEN 'train'
        |            WHEN b < 95 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4) AS BIGINT) % 100 AS b
        |      FROM documents)""".stripMargin,
    "split_decontaminated" -> // split_assign's md5 buckets + the
      // decontaminate gram join restricted to heldout-vs-train
      """WITH sp AS (SELECT doc_id,
        |        CASE WHEN b < 90 THEN 'train'
        |             WHEN b < 95 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM (SELECT doc_id,
        |              CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4)
        |                   AS BIGINT) % 100 AS b
        |            FROM documents)),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tokens
        |      FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |        generate_series(0, len(tokens)-4), i ->
        |          concat_ws(' ', tokens[i+1], tokens[i+2], tokens[i+3],
        |                    tokens[i+4]))) AS grams
        |      FROM t WHERE len(tokens) >= 4),
        |tg AS (SELECT DISTINCT unnest(g.grams) AS gram
        |       FROM g JOIN sp ON sp.doc_id = g.doc_id
        |       WHERE sp.split = 'train'),
        |hg AS (SELECT g.doc_id, unnest(g.grams) AS gram
        |       FROM g JOIN sp ON sp.doc_id = g.doc_id
        |       WHERE sp.split <> 'train'),
        |dirty AS (SELECT doc_id FROM hg JOIN tg USING (gram)
        |          GROUP BY doc_id HAVING count(*) >= 2)
        |SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_quarantined,
        |       CAST(((count(*) - sum(CASE WHEN d.doc_id IS NOT NULL
        |                                  THEN 1 ELSE 0 END)) * 2000000
        |             + count(*)) // (2 * count(*)) AS DOUBLE) / 1000000.0
        |         AS clean_share
        |FROM sp LEFT JOIN dirty d ON d.doc_id = sp.doc_id
        |GROUP BY sp.split
        |ORDER BY sp.split""".stripMargin,
    "corpus_novelty" -> // distinct 4-gram sets per doc, first doc per
      // gram via min, per-doc novel census in exact integers
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tokens
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(0, len(tokens)-4), i ->
        |          concat_ws(' ', tokens[i+1], tokens[i+2], tokens[i+3],
        |                    tokens[i+4])))) AS gram
        |      FROM t WHERE len(tokens) >= 4),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
        |c AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |        CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_novel
        |      FROM g JOIN f ON f.gram = g.gram GROUP BY 1)
        |SELECT doc_id, n_grams, n_novel,
        |       CAST((n_novel * 2000000 + n_grams) // (2 * n_grams)
        |            AS DOUBLE) / 1000000.0 AS novelty
        |FROM c ORDER BY doc_id LIMIT 50""".stripMargin,
    "vocab_oov_rate" -> // split buckets + the train-vocabulary left join
      """WITH sp AS (SELECT doc_id,
        |        CASE WHEN b < 90 THEN 'train'
        |             WHEN b < 95 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM (SELECT doc_id,
        |              CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4)
        |                   AS BIGINT) % 100 AS b
        |            FROM documents)),
        |tk AS (SELECT d.doc_id, sp.split,
        |         unnest(regexp_split_to_array(trim(d.text),'\s+')) AS token
        |       FROM documents d JOIN sp ON sp.doc_id = d.doc_id),
        |tv AS (SELECT DISTINCT token FROM tk WHERE split = 'train'),
        |h AS (SELECT tk.split, tk.token, tv.token AS known
        |      FROM tk LEFT JOIN tv ON tv.token = tk.token
        |      WHERE tk.split <> 'train')
        |SELECT split, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN known IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_oov,
        |       CAST((sum(CASE WHEN known IS NULL THEN 1 ELSE 0 END)
        |             * 2000000 + count(*)) // (2 * count(*))
        |            AS DOUBLE) / 1000000.0 AS oov_rate
        |FROM h GROUP BY split
        |ORDER BY split""".stripMargin,
    "corpus_stats" ->
      """WITH t AS (SELECT lang, regexp_split_to_array(trim(text),'\s+') AS toks
        |           FROM documents),
        |q AS (SELECT lang, len(toks) AS n_tokens,
        |        round(least(1.0, len(toks)/50.0)*0.4
        |          + (len(list_filter(toks, w -> list_contains(
        |              ['the','a','and','of','to','in','is','that'], w)))
        |             / CAST(len(toks) AS DOUBLE))*0.3
        |          + (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))*0.3, 6) AS q
        |      FROM t)
        |SELECT lang, count(*) AS n_docs, round(avg(n_tokens), 4) AS avg_tokens,
        |       CAST(max(n_tokens) AS INT) AS max_tokens,
        |       round(avg(q), 6) AS avg_quality
        |FROM q GROUP BY 1""".stripMargin,
    "text_tfidf" ->
      """WITH terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),'\s+')) AS token
        |               FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |       round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tf_idf
        |FROM tf JOIN df USING (token) CROSS JOIN n""".stripMargin,
    "text_lm_score" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         unnest([w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w)-1)])
        |           AS bg
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 2),
        |c12 AS (SELECT bg, count(*) AS c12 FROM b GROUP BY 1),
        |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
        |       FROM c12 GROUP BY 1)
        |SELECT b.doc_id, count(*) AS n_bigrams,
        |       round(avg(ln(c12.c12 / c1.c1)), 4) AS avg_logp
        |FROM b JOIN c12 USING (bg) JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
        |GROUP BY 1""".stripMargin,
    "text_entropy" ->
      """WITH c AS (SELECT doc_id, w, count(*) AS c
        |           FROM (SELECT doc_id,
        |                        unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |                 FROM documents)
        |           GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
        |FROM c GROUP BY 1""".stripMargin,
    "corpus_drift" ->
      """WITH counts AS (SELECT lang,
        |                       count(*) FILTER (WHERE doc_id % 2 = 0) AS ca,
        |                       count(*) FILTER (WHERE doc_id % 2 = 1) AS cb
        |                FROM documents GROUP BY 1),
        |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM counts),
        |t AS (SELECT (ca / na + cb / nb) / 2.0 AS m, ca, cb, na, nb
        |      FROM counts CROSS JOIN tot)
        |SELECT round((sum(CASE WHEN ca > 0 THEN (ca / na) * ln((ca / na) / m)
        |                       ELSE 0 END)
        |            + sum(CASE WHEN cb > 0 THEN (cb / nb) * ln((cb / nb) / m)
        |                       ELSE 0 END)) / 2.0, 6) AS jsd
        |FROM t""".stripMargin,
    "a11_corr" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
        |       round(stddev_samp(l_extendedprice), 4) AS sd_price
        |FROM lineitem""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_minhash_lsh" ->
      // numeric minhash: ONE md5 per shingle, hex-parsed to a bigint, then
      // 16 affine reshuffles mod 2^28+3 (268435459) — same constants as
      // Dedup.HashA/C/HashP.
      // Buckets larger than Dedup.MaxLshBucket are dropped (skew cap).
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tokens
        |              FROM documents),
        |sh AS (SELECT doc_id, list_transform(generate_series(0, len(tokens)-3), i ->
        |         concat_ws(' ', tokens[i+1], tokens[i+2], tokens[i+3])) AS shingles
        |       FROM toks WHERE len(tokens) >= 3),
        |hb AS (SELECT doc_id, list_transform(shingles, s ->
        |         CAST('0x' || substr(md5(s),1,7) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(generate_series(1,16), i ->
        |          list_aggregate(list_transform(hs, h -> (h *
        |            ([28515171, 35901835, 164504155, 224835733, 159545229, 129086779,
        |              21665025, 258530763, 97673641, 249307291, 192052219, 93357247,
        |              95312455, 108715649, 24414505, 158868827])[i] +
        |            ([142629328, 83632441, 250955955, 96322194, 250268010, 34277798,
        |              256159453, 123742706, 182912951, 248297849, 222161486, 81337654,
        |              192810783, 177914584, 67363176, 151635781])[i])
        |            % 268435459), 'min')) AS sig
        |        FROM hb),
        |bands AS (SELECT doc_id, j,
        |            concat_ws('|', sig[4*j+1], sig[4*j+2], sig[4*j+3], sig[4*j+4]) AS bucket
        |          FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |ok AS (SELECT j, bucket FROM bands GROUP BY 1, 2 HAVING count(*) <= 100)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a
        |JOIN ok ON ok.j = a.j AND ok.bucket = a.bucket
        |JOIN bands b
        |  ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin,
    "dedup_minhash_est" ->
      // same candidate pipeline as dedup_minhash_lsh, pairs annotated with
      // the signature-estimated Jaccard (matching components / 16)
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tokens
        |              FROM documents),
        |sh AS (SELECT doc_id, list_transform(generate_series(0, len(tokens)-3), i ->
        |         concat_ws(' ', tokens[i+1], tokens[i+2], tokens[i+3])) AS shingles
        |       FROM toks WHERE len(tokens) >= 3),
        |hb AS (SELECT doc_id, list_transform(shingles, s ->
        |         CAST('0x' || substr(md5(s),1,7) AS BIGINT)) AS hs FROM sh),
        |sig AS (SELECT doc_id, list_transform(generate_series(1,16), i ->
        |          list_aggregate(list_transform(hs, h -> (h *
        |            ([28515171, 35901835, 164504155, 224835733, 159545229, 129086779,
        |              21665025, 258530763, 97673641, 249307291, 192052219, 93357247,
        |              95312455, 108715649, 24414505, 158868827])[i] +
        |            ([142629328, 83632441, 250955955, 96322194, 250268010, 34277798,
        |              256159453, 123742706, 182912951, 248297849, 222161486, 81337654,
        |              192810783, 177914584, 67363176, 151635781])[i])
        |            % 268435459), 'min')) AS sig
        |        FROM hb),
        |bands AS (SELECT doc_id, j,
        |            concat_ws('|', sig[4*j+1], sig[4*j+2], sig[4*j+3], sig[4*j+4]) AS bucket
        |          FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |ok AS (SELECT j, bucket FROM bands GROUP BY 1, 2 HAVING count(*) <= 100),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM bands a
        |          JOIN ok ON ok.j = a.j AND ok.bucket = a.bucket
        |          JOIN bands b
        |            ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT p.doc_a, p.doc_b,
        |       round(len(list_filter(generate_series(1,16), i -> sa.sig[i] = sb.sig[i])) / 16.0, 6)
        |         AS est_jaccard
        |FROM pairs p
        |JOIN sig sa ON sa.doc_id = p.doc_a
        |JOIN sig sb ON sb.doc_id = p.doc_b""".stripMargin,
    "dedup_components" ->
      // same minhash pipeline as dedup_minhash_lsh, then the transitive
      // closure of the pair graph via a recursive CTE; comp = min reachable id
      """WITH RECURSIVE toks AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tokens
        |              FROM documents),
        |sh AS MATERIALIZED (SELECT doc_id, list_transform(generate_series(0, len(tokens)-3), i ->
        |         concat_ws(' ', tokens[i+1], tokens[i+2], tokens[i+3])) AS shingles
        |       FROM toks WHERE len(tokens) >= 3),
        |hb AS MATERIALIZED (SELECT doc_id, list_transform(shingles, s ->
        |         CAST('0x' || substr(md5(s),1,7) AS BIGINT)) AS hs FROM sh),
        |sig AS MATERIALIZED (SELECT doc_id, list_transform(generate_series(1,16), i ->
        |          list_aggregate(list_transform(hs, h -> (h *
        |            ([28515171, 35901835, 164504155, 224835733, 159545229, 129086779,
        |              21665025, 258530763, 97673641, 249307291, 192052219, 93357247,
        |              95312455, 108715649, 24414505, 158868827])[i] +
        |            ([142629328, 83632441, 250955955, 96322194, 250268010, 34277798,
        |              256159453, 123742706, 182912951, 248297849, 222161486, 81337654,
        |              192810783, 177914584, 67363176, 151635781])[i])
        |            % 268435459), 'min')) AS sig
        |        FROM hb),
        |bands AS MATERIALIZED (SELECT doc_id, j,
        |            concat_ws('|', sig[4*j+1], sig[4*j+2], sig[4*j+3], sig[4*j+4]) AS bucket
        |          FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |ok AS MATERIALIZED (SELECT j, bucket FROM bands GROUP BY 1, 2 HAVING count(*) <= 100),
        |pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM bands a
        |          JOIN ok ON ok.j = a.j AND ok.bucket = a.bucket
        |          JOIN bands b
        |            ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS comp
        |FROM reach GROUP BY src""".stripMargin,
    "dedup_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),'\s+')) AS w
        |              FROM documents),
        |votes AS (SELECT doc_id, p,
        |            sum(CASE WHEN substr(md5(w), p, 1) >= '8' THEN 1 ELSE -1 END) AS v
        |          FROM toks CROSS JOIN (SELECT unnest(generate_series(1,32)) AS p) pp
        |          GROUP BY doc_id, p)
        |SELECT doc_id,
        |       string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      // banded Hamming join over the 32-bit signatures: 4 bands x 8 bits,
      // bucket cap 100, exact Hamming <= 3 filter — mirrors
      // Dedup.simhashCandidates
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),'\s+')) AS w
        |              FROM documents),
        |votes AS (SELECT doc_id, p,
        |            sum(CASE WHEN substr(md5(w), p, 1) >= '8' THEN 1 ELSE -1 END) AS v
        |          FROM toks CROSS JOIN (SELECT unnest(generate_series(1,32)) AS p) pp
        |          GROUP BY doc_id, p),
        |sh AS (SELECT doc_id,
        |         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash
        |       FROM votes GROUP BY doc_id),
        |bands AS (SELECT doc_id, simhash, j, substr(simhash, 8*j + 1, 8) AS bucket
        |          FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |ok AS (SELECT j, bucket FROM bands GROUP BY 1, 2 HAVING count(*) <= 100),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                a.simhash AS sa, b.simhash AS sb
        |         FROM bands a
        |         JOIN ok ON ok.j = a.j AND ok.bucket = a.bucket
        |         JOIN bands b
        |           ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |ham AS (SELECT doc_a, doc_b,
        |          CAST(list_aggregate(list_transform(generate_series(1,32), p ->
        |            CASE WHEN substr(sa,p,1) <> substr(sb,p,1) THEN 1 ELSE 0 END),
        |            'sum') AS INT) AS hamming
        |        FROM cand)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin,
    "dedup_method_agreement" -> // the three candidate chains verbatim
      // (minhash / ngram / simhash oracles above), MATERIALIZED because
      // each final set is referenced three times; then pairwise set
      // algebra in exact integers
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tokens
        |  FROM documents),
        |msh AS (SELECT doc_id, list_transform(generate_series(0, len(tokens)-3), i ->
        |         concat_ws(' ', tokens[i+1], tokens[i+2], tokens[i+3])) AS shingles
        |        FROM toks WHERE len(tokens) >= 3),
        |mhb AS (SELECT doc_id, list_transform(shingles, s ->
        |         CAST('0x' || substr(md5(s),1,7) AS BIGINT)) AS hs FROM msh),
        |msig AS (SELECT doc_id, list_transform(generate_series(1,16), i ->
        |          list_aggregate(list_transform(hs, h -> (h *
        |            ([28515171, 35901835, 164504155, 224835733, 159545229, 129086779,
        |              21665025, 258530763, 97673641, 249307291, 192052219, 93357247,
        |              95312455, 108715649, 24414505, 158868827])[i] +
        |            ([142629328, 83632441, 250955955, 96322194, 250268010, 34277798,
        |              256159453, 123742706, 182912951, 248297849, 222161486, 81337654,
        |              192810783, 177914584, 67363176, 151635781])[i])
        |            % 268435459), 'min')) AS sig
        |        FROM mhb),
        |mbands AS (SELECT doc_id, j,
        |            concat_ws('|', sig[4*j+1], sig[4*j+2], sig[4*j+3], sig[4*j+4]) AS bucket
        |          FROM msig CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |mok AS (SELECT j, bucket FROM mbands GROUP BY 1, 2 HAVING count(*) <= 100),
        |mh AS MATERIALIZED (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM mbands a
        |  JOIN mok ON mok.j = a.j AND mok.bucket = a.bucket
        |  JOIN mbands b
        |    ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |nt AS (SELECT doc_id, lang, regexp_split_to_array(trim(text),'\s+') AS tokens
        |       FROM documents),
        |ngr AS (SELECT doc_id, lang, tokens[1] AS tok0,
        |        list_distinct(list_transform(generate_series(0, len(tokens)-2), i ->
        |          concat_ws(' ', tokens[i+1], tokens[i+2]))) AS grams
        |        FROM nt WHERE len(tokens) >= 2),
        |np AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS isect,
        |        len(a.grams) + len(b.grams) AS tot
        |       FROM ngr a JOIN ngr b
        |         ON a.lang = b.lang AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id),
        |ng AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM np
        |  WHERE CAST((isect * 2000000 + (tot - isect)) // (2 * (tot - isect))
        |             AS DOUBLE) / 1000000.0 >= 0.2),
        |stoks AS (SELECT doc_id, unnest(tokens) AS w FROM toks),
        |votes AS (SELECT doc_id, p,
        |            sum(CASE WHEN substr(md5(w), p, 1) >= '8' THEN 1 ELSE -1 END) AS v
        |          FROM stoks CROSS JOIN (SELECT unnest(generate_series(1,32)) AS p) pp
        |          GROUP BY doc_id, p),
        |sh AS (SELECT doc_id,
        |         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash
        |       FROM votes GROUP BY doc_id),
        |sbands AS (SELECT doc_id, simhash, j, substr(simhash, 8*j + 1, 8) AS bucket
        |          FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |sok AS (SELECT j, bucket FROM sbands GROUP BY 1, 2 HAVING count(*) <= 100),
        |scand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                a.simhash AS sa, b.simhash AS sb
        |         FROM sbands a
        |         JOIN sok ON sok.j = a.j AND sok.bucket = a.bucket
        |         JOIN sbands b
        |           ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |sp AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM scand
        |  WHERE CAST(list_aggregate(list_transform(generate_series(1,32), p ->
        |          CASE WHEN substr(sa,p,1) <> substr(sb,p,1) THEN 1 ELSE 0 END),
        |          'sum') AS INT) <= 3),
        |rows_ AS (
        |  SELECT 'minhash~ngram' AS method_pair,
        |    (SELECT count(*) FROM mh) AS n_a, (SELECT count(*) FROM ng) AS n_b,
        |    (SELECT count(*) FROM mh JOIN ng USING (doc_a, doc_b)) AS n_common
        |  UNION ALL
        |  SELECT 'minhash~simhash',
        |    (SELECT count(*) FROM mh), (SELECT count(*) FROM sp),
        |    (SELECT count(*) FROM mh JOIN sp USING (doc_a, doc_b))
        |  UNION ALL
        |  SELECT 'ngram~simhash',
        |    (SELECT count(*) FROM ng), (SELECT count(*) FROM sp),
        |    (SELECT count(*) FROM ng JOIN sp USING (doc_a, doc_b)))
        |SELECT method_pair, CAST(n_a AS BIGINT) AS n_a,
        |       CAST(n_b AS BIGINT) AS n_b, CAST(n_common AS BIGINT) AS n_common,
        |       CASE WHEN n_a + n_b - n_common > 0 THEN
        |         CAST((n_common * 2000000 + (n_a + n_b - n_common))
        |              // (2 * (n_a + n_b - n_common)) AS DOUBLE) / 1000000.0
        |       ELSE NULL END AS pair_jaccard
        |FROM rows_ ORDER BY method_pair""".stripMargin,
    "events_pit_labels" -> // features strictly < cutoff, label strictly
      // from [cutoff, cutoff+7d) - all integers, hash-exact
      """WITH f AS (SELECT user_id,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_purchases,
        |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
        |    CAST(date_diff('day', max(CAST(ts AS DATE)), DATE '2024-01-24')
        |         AS BIGINT) AS days_since_last,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |  FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00'
        |  GROUP BY 1),
        |l AS (SELECT DISTINCT user_id FROM events
        |      WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
        |        AND ts < TIMESTAMP '2024-01-31 00:00:00')
        |SELECT f.user_id, f.n_events, f.n_purchases, f.n_active_days,
        |       f.days_since_last, f.n_types,
        |       CAST(CASE WHEN l.user_id IS NOT NULL THEN 1 ELSE 0 END
        |            AS BIGINT) AS label
        |FROM f LEFT JOIN l ON l.user_id = f.user_id
        |ORDER BY f.user_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text),'\s+') AS tokens
        |           FROM documents),
        |g AS (SELECT doc_id, lang, tokens[1] AS tok0,
        |        list_distinct(list_transform(generate_series(0, len(tokens)-2), i ->
        |          concat_ws(' ', tokens[i+1], tokens[i+2]))) AS grams
        |      FROM t WHERE len(tokens) >= 2),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS isect,
        |        len(a.grams) + len(b.grams) AS tot
        |      FROM g a JOIN g b
        |        ON a.lang = b.lang AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST((isect * 2000000 + (tot - isect)) // (2 * (tot - isect))
        |            AS DOUBLE) / 1000000.0 AS jaccard
        |FROM p
        |WHERE CAST((isect * 2000000 + (tot - isect)) // (2 * (tot - isect))
        |           AS DOUBLE) / 1000000.0 >= 0.2""".stripMargin,
    "decontaminate" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tokens
        |           FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, len(tokens)-4), i ->
        |        concat_ws(' ', tokens[i+1], tokens[i+2], tokens[i+3], tokens[i+4]))) AS grams
        |      FROM t WHERE len(tokens) >= 4),
        |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 <> 0),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM cg JOIN bg USING (gram)
        |GROUP BY doc_id HAVING count(*) >= 2""".stripMargin,
    "dedup_span_fraction" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |             FROM documents),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(w) - 3)) AS i, w
        |      FROM tok WHERE len(w) >= 4),
        |pos AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+3], ' ') AS gram
        |        FROM p),
        |shared AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM pos)
        |           GROUP BY gram HAVING count(*) >= 2),
        |docc AS (SELECT pos.doc_id, pos.pos FROM pos JOIN shared USING (gram)),
        |contrib AS (
        |  SELECT doc_id,
        |         CASE WHEN prev IS NULL THEN 4 ELSE least(4, pos - prev) END AS newly
        |  FROM (SELECT doc_id, pos,
        |               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM docc)),
        |agg AS (SELECT doc_id, CAST(sum(newly) AS BIGINT) AS dup_tokens
        |        FROM contrib GROUP BY 1),
        |sz AS (SELECT doc_id,
        |              CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |                AS n_tokens
        |       FROM documents)
        |SELECT sz.doc_id, sz.n_tokens,
        |       coalesce(agg.dup_tokens, 0) AS dup_tokens,
        |       CAST((coalesce(agg.dup_tokens, 0) * 2000000 + sz.n_tokens)
        |            // (2 * sz.n_tokens) AS DOUBLE) / 1000000.0 AS dup_fraction
        |FROM sz LEFT JOIN agg USING (doc_id)""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang,
        |             len(regexp_split_to_array(trim(text),'\s+')) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |        COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        |      FROM t)
        |SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
        |       CAST(floor(cum_prev / 512) AS BIGINT) AS seq_id
        |FROM c""".stripMargin,
    "sim_topk_sq8" ->
      // per-dim (min, span) codebook -> int8-style codes -> dequantized
      // cosine top-k; mirrors Similarity.sqQuantize/sqTopK exactly
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |d AS (SELECT u.i AS pos, min(vec[u.i]) AS mn, max(vec[u.i]) - min(vec[u.i]) AS span
        |      FROM v, unnest(generate_series(1, len(vec))) AS u(i) GROUP BY u.i),
        |cb AS (SELECT list(mn ORDER BY pos) AS mns, list(span ORDER BY pos) AS spans FROM d),
        |xq AS (SELECT vec_id, list_transform(generate_series(1, len(vec)), i ->
        |         CASE WHEN spans[i] = 0 THEN mns[i]
        |              ELSE mns[i] + CAST(round((vec[i] - mns[i]) * 255 / spans[i]) AS INT)
        |                   * spans[i] / 255 END) AS vec
        |       FROM v CROSS JOIN cb),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM xq),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm FROM n
        |      WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*vec[i]), 'sum') / (qnorm*nrm), 6) AS cos_sim
        |      FROM n CROSS JOIN q WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 5""".stripMargin,
    "embedding_outliers" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm FROM n WHERE vec_id < 16),
        |asg AS (SELECT vec_id, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |own AS (SELECT vec_id, cent_id, c_cos FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |        WHERE rn = 1),
        |scored AS (
        |  SELECT vec_id, cent_id AS cell, c_cos,
        |         avg(c_cos) OVER (PARTITION BY cent_id) AS mu,
        |         stddev_pop(c_cos) OVER (PARTITION BY cent_id) AS sd
        |  FROM own)
        |SELECT vec_id, cell, c_cos, round((mu - c_cos) / sd, 6) AS z
        |FROM scored WHERE sd > 0 AND round((mu - c_cos) / sd, 6) > 1.0""".stripMargin,
    "dedup_embedding_lsh" -> // random-hyperplane LSH, banded, cosine-verified
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |planes AS (
        |  SELECT bit, list_transform(generate_series(1, 64), j ->
        |    CAST('0x' || substr(md5(bit || '_' || j), 1, 8) AS BIGINT)
        |      / 2147483648.0 - 1.0) AS pvec
        |  FROM (SELECT unnest(generate_series(0, 31)) AS bit)),
        |sig AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN d > 0 THEN CAST(pow(2, bit) AS BIGINT)
        |                       ELSE 0 END) AS BIGINT) AS sig
        |  FROM (SELECT vec_id, bit,
        |          list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*pvec[i]), 'sum') AS d
        |        FROM n, planes)
        |  GROUP BY 1),
        |bands AS (
        |  SELECT vec_id, band, (sig // CAST(pow(2, band*8) AS BIGINT)) % 256 AS bucket
        |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band)),
        |pruned AS (
        |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz
        |                 FROM bands)
        |  WHERE bsz <= 100),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM pruned a JOIN pruned b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b,
        |       round(list_aggregate(list_transform(generate_series(1, len(na.vec)),
        |         i -> na.vec[i]*nb.vec[i]), 'sum') / (na.nrm*nb.nrm), 6) AS cos_sim
        |FROM cand JOIN n na ON cand.vec_a = na.vec_id
        |          JOIN n nb ON cand.vec_b = nb.vec_id
        |WHERE cos_sim > 0.35""".stripMargin,
    "dedup_embedding" ->
      // blocked on the IVF cell assignment (same as sim_topk_ivf's cell CTE)
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm FROM n WHERE vec_id < 16),
        |asg AS (SELECT vec_id, vec, nrm, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        round(list_aggregate(list_transform(generate_series(1, len(a.vec)),
        |          i -> a.vec[i]*b.vec[i]), 'sum') / (a.nrm*b.nrm), 6) AS cos_sim
        |      FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim > 0.35""".stripMargin,
    "dedup_tfidf_pairs" -> // same bigram terms, same quantized idf
      // (trunc BEFORE the cast — DuckDB casts round), BIGINT dots/norms
      """WITH pool AS (SELECT doc_id, lang, text FROM documents
        |              WHERE doc_id % 5 = 0),
        |d AS (SELECT doc_id, lang,
        |        regexp_split_to_array(trim(text), '\s+') AS a FROM pool),
        |bi AS (SELECT doc_id, lang, a[i] || ' ' || a[i+1] AS w
        |       FROM d CROSS JOIN (SELECT unnest(generate_series(1,
        |           (SELECT CAST(max(len(a)) AS BIGINT) FROM d))) AS i)
        |       WHERE i <= len(a) - 1),
        |tf AS (SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS tf
        |       FROM bi GROUP BY 1, 2, 3),
        |dft AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM pool),
        |kept AS (SELECT lang, w,
        |           CAST(trunc(ln(CAST(n_docs AS DOUBLE)
        |             / CAST(df AS DOUBLE)) * 1000) AS BIGINT) AS idf_e3
        |         FROM dft CROSS JOIN nd WHERE df * 10 <= n_docs),
        |wt AS (SELECT tf.doc_id, tf.lang, tf.w, tf.tf * kept.idf_e3 AS wt
        |       FROM tf JOIN kept ON tf.lang = kept.lang AND tf.w = kept.w),
        |nr AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS nrm2
        |       FROM wt GROUP BY 1),
        |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           CAST(sum(a.wt * b.wt) AS BIGINT) AS dot,
        |           CAST(count(*) AS BIGINT) AS n_shared
        |         FROM wt a JOIN wt b ON a.lang = b.lang AND a.w = b.w
        |           AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT doc_a, doc_b, n_shared,
        |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE))
        |        * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6) AS cos_sim
        |FROM dots JOIN nr na ON na.doc_id = dots.doc_a
        |          JOIN nr nb ON nb.doc_id = dots.doc_b
        |ORDER BY cos_sim DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "dedup_prefix_filter" -> // ground truth over ALL gram-sharing pairs
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |           FROM documents),
        |idx AS (SELECT doc_id, a,
        |          unnest(generate_series(1, greatest(len(a) - 2, 0))) AS i FROM t),
        |grams AS (SELECT DISTINCT doc_id,
        |            a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS w FROM idx),
        |sz AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isect
        |          FROM grams a JOIN grams b ON a.w = b.w AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b,
        |             CAST((isect * 2000000 + (sa.sz + sb.sz - isect))
        |                  // (2 * (sa.sz + sb.sz - isect)) AS DOUBLE)
        |               / 1000000.0 AS jaccard
        |      FROM inter JOIN sz sa ON doc_a = sa.doc_id
        |      JOIN sz sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.6""".stripMargin,
    "sim_hard_negatives" -> // IVF cells + different-label filter + top-3
      """WITH v AS (SELECT vec_id, label,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, label, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm FROM n WHERE vec_id < 16),
        |asg AS (SELECT vec_id, label, vec, nrm, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, label, vec, nrm, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, label AS qlabel, vec AS qvec,
        |             nrm AS qnorm, cell
        |      FROM cell WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, m.vec_id AS neighbor_id, m.label AS neg_label,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*m.vec[i]), 'sum') / (qnorm*m.nrm), 6) AS cos_sim
        |      FROM cell m JOIN q USING (cell)
        |      WHERE m.vec_id <> q.query_id AND m.label <> q.qlabel)
        |SELECT query_id, neighbor_id, neg_label, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 3""".stripMargin,
    "dedup_embedding_adaptive" ->
      // same as dedup_embedding, with C = smallest ladder power of two
      // whose square covers the corpus (integer arithmetic both engines)
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |cc AS (SELECT CAST(coalesce(min(p), 65536) AS INT) AS c FROM
        |         (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |                         8192, 16384, 32768, 65536]) AS p), nn
        |       WHERE CAST(p AS BIGINT) * p >= n),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |      FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm
        |      FROM n, cc WHERE vec_id < cc.c),
        |asg AS (SELECT vec_id, vec, nrm, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        round(list_aggregate(list_transform(generate_series(1, len(a.vec)),
        |          i -> a.vec[i]*b.vec[i]), 'sum') / (a.nrm*b.nrm), 6) AS cos_sim
        |      FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim > 0.35""".stripMargin,
    "sim_topk_pq" -> // product quantization over unit vectors, ADC scoring
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rvec
        |            FROM embeddings),
        |v AS (SELECT vec_id, list_transform(rvec, x -> x / sqrt(
        |        list_aggregate(list_transform(rvec, y -> y*y), 'sum'))) AS vec
        |      FROM v0),
        |sub AS (
        |  SELECT vec_id, sm AS sub_m, vec[sm*w+1 : sm*w+w] AS sub
        |  FROM (SELECT vec_id, vec, len(vec)//16 AS w FROM v),
        |       (SELECT unnest(generate_series(0, 15)) AS sm)),
        |book AS (SELECT vec_id AS cent_id, sub_m, sub AS csub FROM sub WHERE vec_id < 64),
        |codes AS (
        |  SELECT vec_id, sub_m, cent_id AS code FROM (
        |    SELECT s.vec_id, s.sub_m, b.cent_id,
        |           row_number() OVER (PARTITION BY s.vec_id, s.sub_m ORDER BY
        |             round((
        |               list_aggregate(list_transform(generate_series(1, len(s.sub)),
        |                 i -> s.sub[i]*s.sub[i]), 'sum')
        |               - 2 * list_aggregate(list_transform(generate_series(1, len(s.sub)),
        |                 i -> s.sub[i]*b.csub[i]), 'sum')
        |               + list_aggregate(list_transform(generate_series(1, len(b.csub)),
        |                 i -> b.csub[i]*b.csub[i]), 'sum')) * 1000000),
        |             b.cent_id) AS rn
        |    FROM sub s JOIN book b USING (sub_m))
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, sub_m, sub AS qsub FROM sub WHERE vec_id % 50 = 0),
        |dt AS (
        |  SELECT query_id, sub_m, cent_id AS code,
        |         round(
        |           list_aggregate(list_transform(generate_series(1, len(qsub)),
        |             i -> qsub[i]*qsub[i]), 'sum')
        |           - 2 * list_aggregate(list_transform(generate_series(1, len(qsub)),
        |             i -> qsub[i]*csub[i]), 'sum')
        |           + list_aggregate(list_transform(generate_series(1, len(csub)),
        |             i -> csub[i]*csub[i]), 'sum'), 6) AS d
        |  FROM q JOIN book USING (sub_m)),
        |scored AS (
        |  SELECT query_id, vec_id AS neighbor_id, round(sum(d), 6) AS approx_dist
        |  FROM codes JOIN dt USING (sub_m, code)
        |  WHERE vec_id <> query_id GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, approx_dist, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5""".stripMargin,
    "sim_topk_ivfpq" -> // IVF cell restriction x PQ ADC scoring
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rvec
        |            FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |cc AS (SELECT CAST(coalesce(min(p), 65536) AS INT) AS c FROM
        |         (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |                         8192, 16384, 32768, 65536]) AS p), nn
        |       WHERE CAST(p AS BIGINT) * p >= n),
        |nrm AS (SELECT vec_id, rvec, sqrt(
        |          list_aggregate(list_transform(rvec, x -> x*x), 'sum')) AS nr FROM v0),
        |cent AS (SELECT vec_id AS cent_id, rvec AS cvec, nr AS cnorm
        |         FROM nrm, cc WHERE vec_id < cc.c),
        |asg AS (SELECT vec_id, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(rvec)),
        |            i -> rvec[i]*cvec[i]), 'sum') / (nr*cnorm), 6) AS c_cos
        |        FROM nrm CROSS JOIN cent),
        |cellof AS (SELECT vec_id, cent_id AS cell FROM
        |            (SELECT *, row_number() OVER (
        |               PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |           WHERE rn = 1),
        |v AS (SELECT vec_id, list_transform(rvec, x -> x / nr) AS vec FROM nrm),
        |sub AS (
        |  SELECT vec_id, sm AS sub_m, vec[sm*w+1 : sm*w+w] AS sub
        |  FROM (SELECT vec_id, vec, len(vec)//16 AS w FROM v),
        |       (SELECT unnest(generate_series(0, 15)) AS sm)),
        |book AS (SELECT vec_id AS cent_id, sub_m, sub AS csub FROM sub WHERE vec_id < 64),
        |codes AS (
        |  SELECT vec_id, sub_m, cent_id AS code FROM (
        |    SELECT s.vec_id, s.sub_m, b.cent_id,
        |           row_number() OVER (PARTITION BY s.vec_id, s.sub_m ORDER BY
        |             round((
        |               list_aggregate(list_transform(generate_series(1, len(s.sub)),
        |                 i -> s.sub[i]*s.sub[i]), 'sum')
        |               - 2 * list_aggregate(list_transform(generate_series(1, len(s.sub)),
        |                 i -> s.sub[i]*b.csub[i]), 'sum')
        |               + list_aggregate(list_transform(generate_series(1, len(b.csub)),
        |                 i -> b.csub[i]*b.csub[i]), 'sum')) * 1000000),
        |             b.cent_id) AS rn
        |    FROM sub s JOIN book b USING (sub_m))
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, sub_m, sub AS qsub FROM sub WHERE vec_id % 50 = 0),
        |dt AS (
        |  SELECT query_id, sub_m, cent_id AS code,
        |         round(
        |           list_aggregate(list_transform(generate_series(1, len(qsub)),
        |             i -> qsub[i]*qsub[i]), 'sum')
        |           - 2 * list_aggregate(list_transform(generate_series(1, len(qsub)),
        |             i -> qsub[i]*csub[i]), 'sum')
        |           + list_aggregate(list_transform(generate_series(1, len(csub)),
        |             i -> csub[i]*csub[i]), 'sum'), 6) AS d
        |  FROM q JOIN book USING (sub_m)),
        |scored AS (
        |  SELECT dt.query_id, codes.vec_id AS neighbor_id,
        |         round(sum(dt.d), 6) AS approx_dist
        |  FROM codes
        |  JOIN cellof cv ON codes.vec_id = cv.vec_id
        |  JOIN dt ON codes.sub_m = dt.sub_m AND codes.code = dt.code
        |  JOIN cellof cq ON dt.query_id = cq.vec_id AND cv.cell = cq.cell
        |  WHERE codes.vec_id <> dt.query_id GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, approx_dist, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS rn FROM scored)
        |WHERE rn <= 5""".stripMargin,
    "sim_topk_ivfpq_rerank" -> // the ivfpq ADC chain cut at depth 25,
      // then exact cosine re-rank of just the shortlist (FAISS refine)
      """WITH v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rvec
        |            FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |cc AS (SELECT CAST(coalesce(min(p), 65536) AS INT) AS c FROM
        |         (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |                         8192, 16384, 32768, 65536]) AS p), nn
        |       WHERE CAST(p AS BIGINT) * p >= n),
        |nrm AS (SELECT vec_id, rvec, sqrt(
        |          list_aggregate(list_transform(rvec, x -> x*x), 'sum')) AS nr FROM v0),
        |cent AS (SELECT vec_id AS cent_id, rvec AS cvec, nr AS cnorm
        |         FROM nrm, cc WHERE vec_id < cc.c),
        |asg AS (SELECT vec_id, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(rvec)),
        |            i -> rvec[i]*cvec[i]), 'sum') / (nr*cnorm), 6) AS c_cos
        |        FROM nrm CROSS JOIN cent),
        |cellof AS (SELECT vec_id, cent_id AS cell FROM
        |            (SELECT *, row_number() OVER (
        |               PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |           WHERE rn = 1),
        |v AS (SELECT vec_id, list_transform(rvec, x -> x / nr) AS vec FROM nrm),
        |sub AS (
        |  SELECT vec_id, sm AS sub_m, vec[sm*w+1 : sm*w+w] AS sub
        |  FROM (SELECT vec_id, vec, len(vec)//16 AS w FROM v),
        |       (SELECT unnest(generate_series(0, 15)) AS sm)),
        |book AS (SELECT vec_id AS cent_id, sub_m, sub AS csub FROM sub WHERE vec_id < 64),
        |codes AS (
        |  SELECT vec_id, sub_m, cent_id AS code FROM (
        |    SELECT s.vec_id, s.sub_m, b.cent_id,
        |           row_number() OVER (PARTITION BY s.vec_id, s.sub_m ORDER BY
        |             round((
        |               list_aggregate(list_transform(generate_series(1, len(s.sub)),
        |                 i -> s.sub[i]*s.sub[i]), 'sum')
        |               - 2 * list_aggregate(list_transform(generate_series(1, len(s.sub)),
        |                 i -> s.sub[i]*b.csub[i]), 'sum')
        |               + list_aggregate(list_transform(generate_series(1, len(b.csub)),
        |                 i -> b.csub[i]*b.csub[i]), 'sum')) * 1000000),
        |             b.cent_id) AS rn
        |    FROM sub s JOIN book b USING (sub_m))
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, sub_m, sub AS qsub FROM sub WHERE vec_id % 50 = 0),
        |dt AS (
        |  SELECT query_id, sub_m, cent_id AS code,
        |         round(
        |           list_aggregate(list_transform(generate_series(1, len(qsub)),
        |             i -> qsub[i]*qsub[i]), 'sum')
        |           - 2 * list_aggregate(list_transform(generate_series(1, len(qsub)),
        |             i -> qsub[i]*csub[i]), 'sum')
        |           + list_aggregate(list_transform(generate_series(1, len(csub)),
        |             i -> csub[i]*csub[i]), 'sum'), 6) AS d
        |  FROM q JOIN book USING (sub_m)),
        |scored AS (
        |  SELECT dt.query_id, codes.vec_id AS neighbor_id,
        |         round(sum(dt.d), 6) AS approx_dist
        |  FROM codes
        |  JOIN cellof cv ON codes.vec_id = cv.vec_id
        |  JOIN dt ON codes.sub_m = dt.sub_m AND codes.code = dt.code
        |  JOIN cellof cq ON dt.query_id = cq.vec_id AND cv.cell = cq.cell
        |  WHERE codes.vec_id <> dt.query_id GROUP BY 1, 2),
        |short AS (
        |  SELECT query_id, neighbor_id
        |  FROM (SELECT *, row_number() OVER (
        |          PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS rn
        |        FROM scored)
        |  WHERE rn <= 25),
        |ex AS (
        |  SELECT s.query_id, s.neighbor_id,
        |         round(list_aggregate(list_transform(generate_series(1, len(qv.rvec)),
        |           i -> qv.rvec[i]*nv.rvec[i]), 'sum') / (qv.nr*nv.nr), 6) AS cos_sim
        |  FROM short s
        |  JOIN nrm qv ON qv.vec_id = s.query_id
        |  JOIN nrm nv ON nv.vec_id = s.neighbor_id)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM ex)
        |WHERE rn <= 3""".stripMargin,
    "sim_topk_brute" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm FROM n
        |      WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*vec[i]), 'sum') / (qnorm*nrm), 6) AS cos_sim
        |      FROM n CROSS JOIN q WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 5""".stripMargin,
    "sim_topk_mips" -> // raw dot product, NO norm division (magnitude is
      // signal); same query subset and (score desc, id asc) tie-break
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
        |      WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*vec[i]), 'sum'), 6) AS ip
        |      FROM v CROSS JOIN q WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, ip, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 5""".stripMargin,
    "sim_topk_mips_ivf" -> // augmented-cosine assignment (every candidate
      // norm is exactly mx, so /(mx*mx)); queries probe ASYMMETRICALLY
      // with [q, 0] (norm = orig nrm) taking 4 cells; cell-confined
      // EXACT raw-dot scoring; ladder-sized like sim_topk_ivf_adaptive
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |cc AS (SELECT CAST(coalesce(min(p), 65536) AS INT) AS c FROM
        |         (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |                         8192, 16384, 32768, 65536]) AS p), nn
        |       WHERE CAST(p AS BIGINT) * p >= n),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |      FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |m AS (SELECT max(nrm) AS mx FROM n),
        |a AS (SELECT vec_id, vec,
        |        list_append(vec, sqrt(mx*mx - nrm*nrm)) AS avec, mx
        |      FROM n CROSS JOIN m),
        |c AS (SELECT vec_id AS cent_id, avec AS cvec
        |      FROM a, cc WHERE vec_id < cc.c),
        |asg AS (SELECT a.vec_id, a.vec, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(avec)),
        |            i -> avec[i]*cvec[i]), 'sum') / (mx*mx), 6) AS c_cos
        |        FROM a CROSS JOIN c),
        |cell AS (SELECT vec_id, vec, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |qa AS (SELECT vec_id, vec AS qvec, nrm,
        |         list_append(vec, CAST(0.0 AS DOUBLE)) AS qavec
        |       FROM n WHERE vec_id % 50 = 0),
        |qasg AS (SELECT qa.vec_id, qa.qvec, cent_id,
        |           round(list_aggregate(list_transform(generate_series(1, len(qavec)),
        |             i -> qavec[i]*cvec[i]), 'sum') / (nrm*mx), 6) AS c_cos
        |         FROM qa CROSS JOIN c CROSS JOIN m),
        |q AS (SELECT vec_id AS query_id, qvec, cent_id AS cell FROM
        |        (SELECT *, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM qasg)
        |      WHERE rn <= 4),
        |s AS (SELECT query_id, mm.vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*mm.vec[i]), 'sum'), 6) AS ip
        |      FROM cell mm JOIN q USING (cell) WHERE mm.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, ip, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 5""".stripMargin,
    "sim_topk_agg" -> // same contract as sim_topk_brute, custom-aggregate path
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm FROM n
        |      WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*vec[i]), 'sum') / (qnorm*nrm), 6) AS cos_sim
        |      FROM n CROSS JOIN q WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 5""".stripMargin,
    "sim_topk_ivf" -> IvfTopKSql,
    // the persisted-index path returns exactly ivfTopK's results by
    // contract (SimilaritySpec pins the parity), so it shares the oracle
    "sim_topk_ivf_persisted" -> IvfTopKSql,
    "sim_topk_ivf_hier" ->
      // the two-level quantizer: coarse ladder C1^2 >= C over the fine
      // ladder C^2 >= n; seed parents, vec->coarse, vec->fine-child, then
      // IvfTopKSql's cell scoring/tie-breaks verbatim
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |cc AS (SELECT CAST(coalesce(min(p), 65536) AS INT) AS c FROM
        |         (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |                         8192, 16384, 32768, 65536]) AS p), nn
        |       WHERE CAST(p AS BIGINT) * p >= n),
        |c1 AS (SELECT CAST(coalesce(min(p), 256) AS INT) AS k1 FROM
        |         (SELECT unnest([4, 8, 16, 32, 64, 128, 256]) AS p), cc
        |       WHERE CAST(p AS BIGINT) * p >= c),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |      FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |seeds AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm
        |          FROM n, cc WHERE vec_id < cc.c),
        |coarse AS (SELECT cent_id AS coarse_id, cvec AS covec, cnorm AS conorm
        |           FROM seeds, c1 WHERE cent_id < c1.k1),
        |parents AS (SELECT cent_id, cvec, cnorm, coarse_id AS coarse FROM
        |             (SELECT s.cent_id, s.cvec, s.cnorm, o.coarse_id,
        |                row_number() OVER (PARTITION BY s.cent_id ORDER BY
        |                  round(list_aggregate(list_transform(generate_series(1, len(s.cvec)),
        |                    i -> s.cvec[i]*o.covec[i]), 'sum') / (s.cnorm*o.conorm), 6) DESC,
        |                  o.coarse_id) AS rn
        |              FROM seeds s CROSS JOIN coarse o)
        |            WHERE rn = 1),
        |vc AS (SELECT vec_id, vec, nrm, coarse_id AS coarse FROM
        |        (SELECT x.vec_id, x.vec, x.nrm, o.coarse_id,
        |           row_number() OVER (PARTITION BY x.vec_id ORDER BY
        |             round(list_aggregate(list_transform(generate_series(1, len(x.vec)),
        |               i -> x.vec[i]*o.covec[i]), 'sum') / (x.nrm*o.conorm), 6) DESC,
        |             o.coarse_id) AS rn
        |         FROM n x CROSS JOIN coarse o)
        |       WHERE rn = 1),
        |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |          (SELECT x.vec_id, x.vec, x.nrm, p.cent_id,
        |             row_number() OVER (PARTITION BY x.vec_id ORDER BY
        |               round(list_aggregate(list_transform(generate_series(1, len(x.vec)),
        |                 i -> x.vec[i]*p.cvec[i]), 'sum') / (x.nrm*p.cnorm), 6) DESC,
        |               p.cent_id) AS rn
        |           FROM vc x JOIN parents p ON p.coarse = x.coarse)
        |         WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm, cell FROM cell
        |      WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, m.vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*m.vec[i]), 'sum') / (qnorm*m.nrm), 6) AS cos_sim
        |      FROM cell m JOIN q USING (cell) WHERE m.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 3""".stripMargin,
    "sim_topk_ivf_adaptive" ->
      // IvfTopKSql with the dedup_embedding_adaptive cell ladder instead
      // of the fixed 16 lowest-id seeds
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |cc AS (SELECT CAST(coalesce(min(p), 65536) AS INT) AS c FROM
        |         (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |                         8192, 16384, 32768, 65536]) AS p), nn
        |       WHERE CAST(p AS BIGINT) * p >= n),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |      FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm
        |      FROM n, cc WHERE vec_id < cc.c),
        |asg AS (SELECT vec_id, vec, nrm, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm, cell FROM cell
        |      WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, m.vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*m.vec[i]), 'sum') / (qnorm*m.nrm), 6) AS cos_sim
        |      FROM cell m JOIN q USING (cell) WHERE m.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 3""".stripMargin,
    "sim_topk_ivf_mp" ->
      // multi-probe IVF: corpus single-assigned (rn = 1), queries probe
      // their top-2 cells (rn <= 2)
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm FROM n WHERE vec_id < 16),
        |asg AS (SELECT vec_id, vec, nrm, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |ranked AS (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg),
        |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM ranked WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm, cent_id AS cell
        |      FROM ranked WHERE rn <= 2 AND vec_id % 50 = 0),
        |s AS (SELECT query_id, m.vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*m.vec[i]), 'sum') / (qnorm*m.nrm), 6) AS cos_sim
        |      FROM cell m JOIN q USING (cell) WHERE m.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 3""".stripMargin,
    "sim_topk_ivf_kmeans" ->
      // one deterministic Lloyd iteration from the lowest-vec_id seeds:
      // assign on seed centroids (asg0/cell0), refine = per-(cell,dim)
      // mean rounded to 6 (dims/c1), then assign + probe on the refined
      // cells — mirrors Similarity.ivfTopKKmeans(iters = 1)
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c0 AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm FROM n WHERE vec_id < 16),
        |asg0 AS (SELECT vec_id, vec, nrm, cent_id,
        |           round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |             i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |         FROM n CROSS JOIN c0),
        |cell0 AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |           (SELECT *, row_number() OVER (
        |              PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg0)
        |          WHERE rn = 1),
        |dims AS (SELECT cell, u.i AS dim, round(avg(vec[u.i]), 6) AS m
        |         FROM cell0, unnest(generate_series(1, len(vec))) AS u(i)
        |         GROUP BY cell, u.i),
        |c1 AS (SELECT cell AS cent_id, list(m ORDER BY dim) AS cvec FROM dims GROUP BY cell),
        |c1n AS (SELECT cent_id, cvec,
        |          sqrt(list_aggregate(list_transform(cvec, x -> x*x), 'sum')) AS cnorm FROM c1),
        |asg1 AS (SELECT vec_id, vec, nrm, cent_id,
        |           round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |             i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |         FROM n CROSS JOIN c1n),
        |cell1 AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |           (SELECT *, row_number() OVER (
        |              PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg1)
        |          WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm, cell FROM cell1
        |      WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, m.vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*m.vec[i]), 'sum') / (qnorm*m.nrm), 6) AS cos_sim
        |      FROM cell1 m JOIN q USING (cell) WHERE m.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM s)
        |WHERE rn <= 3""".stripMargin,
    "j5_asof" -> // the r dedup mirrors the operator's pinned tie
      // semantic: among right rows sharing (user, ts), the largest
      // payload tuple wins (ASOF alone would pick arbitrarily)
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type, value
        |           FROM events WHERE event_type <> 'purchase'),
        |r AS (SELECT user_id, ts, purchase_event_id, purchase_value FROM (
        |        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |               event_id AS purchase_event_id,
        |               value AS purchase_value,
        |               row_number() OVER (PARTITION BY user_id,
        |                 CAST(ts AS TIMESTAMP)
        |                 ORDER BY event_id DESC, value DESC) AS rn
        |        FROM events WHERE event_type = 'purchase')
        |      WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts, l.event_type, l.value,
        |       r.purchase_event_id, r.purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "j5c_asof_forward" -> // backward ASOF over NEGATED epoch micros IS
      // the forward join (DuckDB ASOF only looks backward); same tie
      // dedup as j5
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type, value,
        |                  -epoch_us(CAST(ts AS TIMESTAMP)) AS nts
        |           FROM events WHERE event_type <> 'purchase'),
        |r AS (SELECT user_id, nts, purchase_event_id, purchase_value
        |      FROM (
        |        SELECT user_id,
        |               -epoch_us(CAST(ts AS TIMESTAMP)) AS nts,
        |               event_id AS purchase_event_id,
        |               value AS purchase_value,
        |               row_number() OVER (PARTITION BY user_id,
        |                 CAST(ts AS TIMESTAMP)
        |                 ORDER BY event_id DESC, value DESC) AS rn
        |        FROM events WHERE event_type = 'purchase')
        |      WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts, l.event_type, l.value,
        |       r.purchase_event_id, r.purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.nts >= r.nts""".stripMargin,
    "j5d_asof_nearest" -> // both directional ASOF matches (backward
      // plain, forward over negated epochs), then a per-row integer
      // distance pick; bus/fus (matched TIMES) decide matched-ness, so a
      // null payload field could never masquerade as a miss
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type, value,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |                  -epoch_us(CAST(ts AS TIMESTAMP)) AS ntus
        |           FROM events WHERE event_type <> 'purchase'),
        |r AS (SELECT user_id, ts, epoch_us(ts) AS rus, -epoch_us(ts)
        |        AS nrus, purchase_event_id, purchase_value FROM (
        |        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |               event_id AS purchase_event_id,
        |               value AS purchase_value,
        |               row_number() OVER (PARTITION BY user_id,
        |                 CAST(ts AS TIMESTAMP)
        |                 ORDER BY event_id DESC, value DESC) AS rn
        |        FROM events WHERE event_type = 'purchase')
        |      WHERE rn = 1),
        |b AS (SELECT l.event_id, r.purchase_event_id AS pb,
        |        r.purchase_value AS vb, r.rus AS bus
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.tus >= r.rus),
        |f AS (SELECT l.event_id, r.purchase_event_id AS pf,
        |        r.purchase_value AS vf, -r.nrus AS fus
        |      FROM l ASOF LEFT JOIN r
        |        ON l.user_id = r.user_id AND l.ntus >= r.nrus)
        |SELECT l.event_id, l.user_id, l.ts, l.event_type, l.value,
        |       CASE WHEN bus IS NOT NULL
        |                  AND (fus IS NULL OR l.tus - bus <= fus - l.tus)
        |            THEN pb ELSE pf END AS purchase_event_id,
        |       CASE WHEN bus IS NOT NULL
        |                  AND (fus IS NULL OR l.tus - bus <= fus - l.tus)
        |            THEN vb ELSE vf END AS purchase_value
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)""".stripMargin,
    "j5b_asof_tolerance" -> // ASOF match, then the same exact-microsecond
      // staleness bound applied to BOTH payload columns at once
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_type, value
        |           FROM events WHERE event_type <> 'purchase'),
        |r AS (SELECT user_id, ts, purchase_event_id, purchase_value FROM (
        |        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |               event_id AS purchase_event_id,
        |               value AS purchase_value,
        |               row_number() OVER (PARTITION BY user_id,
        |                 CAST(ts AS TIMESTAMP)
        |                 ORDER BY event_id DESC, value DESC) AS rn
        |        FROM events WHERE event_type = 'purchase')
        |      WHERE rn = 1)
        |SELECT l.event_id, l.user_id, l.ts, l.event_type, l.value,
        |       CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 1800000000
        |            THEN r.purchase_event_id END AS purchase_event_id,
        |       CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 1800000000
        |            THEN r.purchase_value END AS purchase_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "a5_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1""".stripMargin,
    "a6_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "a7_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "scd2_build" ->
      """SELECT user_id, event_id, event_type, value,
        |       epoch_ms(CAST(ts AS TIMESTAMP)) AS valid_from_ms,
        |       epoch_ms(CAST(lead(ts) OVER w AS TIMESTAMP)) AS valid_to_ms,
        |       lead(ts) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "gap_fill" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_events
        |               FROM events WHERE user_id % 20 = 0 GROUP BY 1, 2),
        |spine AS (SELECT user_id,
        |                 CAST(unnest(generate_series(min(d), max(d),
        |                   INTERVAL 1 DAY)) AS DATE) AS d
        |          FROM daily GROUP BY user_id),
        |j AS (SELECT s.user_id, s.d, daily.n_events
        |      FROM spine s LEFT JOIN daily USING (user_id, d))
        |SELECT user_id, d, n_events IS NOT NULL AS is_observed,
        |       last_value(n_events IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_events
        |FROM j""".stripMargin,
    "cdc_snapshot" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN event_type = 'error' THEN 'delete'
        |              ELSE 'upsert' END AS op
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM c)
        |SELECT user_id, ts, event_id, value
        |FROM r WHERE rn = 1 AND op <> 'delete'""".stripMargin,
    "table_stats" ->
      """WITH t AS (SELECT l_partkey, l_quantity, l_returnflag,
        |                  CAST(l_shipdate AS DATE) AS ship_date FROM lineitem)
        |SELECT 'l_partkey' AS column_name, CAST(min(l_partkey) AS VARCHAR) AS min_value,
        |       CAST(max(l_partkey) AS VARCHAR) AS max_value,
        |       count(*) - count(l_partkey) AS n_nulls,
        |       count(DISTINCT l_partkey) AS ndv FROM t
        |UNION ALL
        |SELECT 'l_quantity', CAST(min(l_quantity) AS VARCHAR),
        |       CAST(max(l_quantity) AS VARCHAR),
        |       count(*) - count(l_quantity), count(DISTINCT l_quantity) FROM t
        |UNION ALL
        |SELECT 'l_returnflag', CAST(min(l_returnflag) AS VARCHAR),
        |       CAST(max(l_returnflag) AS VARCHAR),
        |       count(*) - count(l_returnflag), count(DISTINCT l_returnflag) FROM t
        |UNION ALL
        |SELECT 'ship_date', CAST(min(ship_date) AS VARCHAR),
        |       CAST(max(ship_date) AS VARCHAR),
        |       count(*) - count(ship_date), count(DISTINCT ship_date) FROM t""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       CAST(o_orderdate AS DATE) AS order_date
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
        |GROUP BY 1, 3
        |ORDER BY revenue DESC, order_date, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,
    "a9_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "a13_mode" -> // same two-aggregate shape: value census, then the
      // count-desc/value-asc argmax
      """SELECT l_returnflag, qty AS mode_qty, n AS n_mode FROM (
        |  SELECT l_returnflag, qty, n, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY n DESC, qty) AS rn
        |  FROM (SELECT l_returnflag,
        |          CAST(trunc(l_quantity) AS BIGINT) AS qty,
        |          count(*) AS n
        |        FROM lineitem GROUP BY 1, 2))
        |WHERE rn = 1""".stripMargin,
    "w11_percentile_disc" -> // identical ceil positions in pure integers:
      // p50 at (n+1)//2, p90 at (9n+9)//10
      """WITH b AS (SELECT l_returnflag,
        |             CAST(trunc(l_quantity) AS BIGINT) AS qty
        |           FROM lineitem),
        |r AS (SELECT l_returnflag, qty,
        |        CAST(row_number() OVER (PARTITION BY l_returnflag
        |          ORDER BY qty) AS BIGINT) AS rn,
        |        CAST(count(*) OVER (PARTITION BY l_returnflag)
        |          AS BIGINT) AS n
        |      FROM b)
        |SELECT l_returnflag, max(n) AS n,
        |       max(CASE WHEN rn = (n + 1) // 2 THEN qty END) AS p50_disc,
        |       max(CASE WHEN rn = (9 * n + 9) // 10 THEN qty END)
        |         AS p90_disc
        |FROM r GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "stat_cuped" -> // same sufficient statistics, same double casts —
      // theta and the reduction are unrounded identical doubles
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy
        |      FROM u)
        |SELECT n AS n_units,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS theta,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |         / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |         * 100.0 END AS var_reduction_pct
        |FROM s""".stripMargin,
    "stat_srm" -> // same md5 spelling as split_assign's oracle; the
      // detection flag never touches a double
      """WITH un AS (SELECT DISTINCT user_id FROM events
        |            WHERE user_id IS NOT NULL),
        |b AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |        1, 4) AS BIGINT) % 2 AS b FROM un),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_a
        |      FROM b)
        |SELECT n AS n_units, n_a, n - n_a AS n_b,
        |  CAST(2 * n_a - n AS DOUBLE) * CAST(2 * n_a - n AS DOUBLE)
        |    / CAST(n AS DOUBLE) AS chi2,
        |  100 * (2 * n_a - n) * (2 * n_a - n) > 384 * n AS srm_detected
        |FROM s""".stripMargin,
    "stat_mannwhitney" -> // same doubled-midrank construction; every
      // cast mirrored so z is the identical double in both engines
      """WITH base AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ca,
        |         CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS cb
        |  FROM documents WHERE lang IN ('en', 'fr') AND n_chars IS NOT NULL),
        |counts AS (SELECT v, CAST(sum(ca) AS BIGINT) AS na,
        |                  CAST(sum(cb) AS BIGINT) AS nb
        |           FROM base GROUP BY 1),
        |r AS (SELECT na, nb, na + nb AS nv,
        |             2 * COALESCE(sum(na + nb) OVER (ORDER BY v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               + (na + nb) + 1 AS dmr
        |      FROM counts),
        |s AS (SELECT CAST(sum(na) AS BIGINT) AS na,
        |             CAST(sum(nb) AS BIGINT) AS nb,
        |             CAST(sum(na * dmr) AS BIGINT) AS r2a,
        |             CAST(sum(nv * nv * nv - nv) AS BIGINT) AS t3
        |      FROM r)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_a,
        |  CASE WHEN CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |         * (CAST(na + nb + 1 AS DOUBLE) * CAST(na + nb AS DOUBLE)
        |            * CAST(na + nb - 1 AS DOUBLE) - CAST(t3 AS DOUBLE))
        |         / (12.0 * CAST(na + nb AS DOUBLE)
        |            * CAST(na + nb - 1 AS DOUBLE)) > 0
        |    THEN CAST(r2a - na * (na + 1) - na * nb AS DOUBLE)
        |         / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |            * (CAST(na + nb + 1 AS DOUBLE) * CAST(na + nb AS DOUBLE)
        |               * CAST(na + nb - 1 AS DOUBLE) - CAST(t3 AS DOUBLE))
        |            / (12.0 * CAST(na + nb AS DOUBLE)
        |               * CAST(na + nb - 1 AS DOUBLE)))) END AS z
        |FROM s""".stripMargin,
    "stat_permutation" -> // same md5 spelling as stat_srm/split_assign,
      // salted variant appends ':k'; p is the exact-fixed-point ratio
      """WITH u AS (SELECT CAST(user_id AS VARCHAR) AS id,
        |             CAST(count(*) AS BIGINT) AS m
        |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |obs AS (SELECT abs(2 * CAST(sum(CASE WHEN CAST('0x' ||
        |            substr(md5(id), 1, 4) AS BIGINT) % 2 = 0
        |            THEN m ELSE 0 END) AS BIGINT)
        |          - CAST(sum(m) AS BIGINT)) AS d0 FROM u),
        |nulls AS (SELECT abs(2 * CAST(sum(CASE WHEN CAST('0x' ||
        |              substr(md5(id || ':' || CAST(t.k AS VARCHAR)), 1, 4)
        |              AS BIGINT) % 2 = 0 THEN m ELSE 0 END) AS BIGINT)
        |            - CAST(sum(m) AS BIGINT)) AS dk
        |          FROM u, range(64) t(k) GROUP BY t.k),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k_perms,
        |             max(d0) AS d_obs,
        |             CAST(sum(CASE WHEN dk >= d0 THEN 1 ELSE 0 END)
        |               AS BIGINT) AS n_ge
        |      FROM nulls, obs)
        |SELECT k_perms, d_obs, n_ge,
        |  CAST(((n_ge + 1) * 2000000 + (k_perms + 1))
        |       // (2 * (k_perms + 1)) AS DOUBLE) / 1000000.0 AS p_value
        |FROM s""".stripMargin,
    "stat_fdr" -> // same md5 statistic per group; the BH step-up is the
      // same pure-integer comparison and reverse running max
      """WITH b AS (SELECT CAST(user_id AS VARCHAR) AS id,
        |             event_type AS g, CAST(count(*) AS BIGINT) AS m
        |           FROM events
        |           WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |           GROUP BY 1, 2),
        |obs AS (SELECT g, abs(2 * CAST(sum(CASE WHEN CAST('0x' ||
        |            substr(md5(id), 1, 4) AS BIGINT) % 2 = 0
        |            THEN m ELSE 0 END) AS BIGINT)
        |          - CAST(sum(m) AS BIGINT)) AS d0
        |        FROM b GROUP BY 1),
        |nulls AS (SELECT g, t.k,
        |            abs(2 * CAST(sum(CASE WHEN CAST('0x' ||
        |              substr(md5(id || ':' || CAST(t.k AS VARCHAR)), 1, 4)
        |              AS BIGINT) % 2 = 0 THEN m ELSE 0 END) AS BIGINT)
        |              - CAST(sum(m) AS BIGINT)) AS dk
        |          FROM b, range(64) t(k) GROUP BY 1, 2),
        |pg AS (SELECT n.g, max(o.d0) AS d_obs,
        |         CAST(sum(CASE WHEN n.dk >= o.d0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_ge
        |       FROM nulls n JOIN obs o ON o.g = n.g GROUP BY 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS mg FROM pg),
        |r AS (SELECT pg.g, pg.d_obs, pg.n_ge, mm.mg,
        |        CAST(row_number() OVER (ORDER BY n_ge, g) AS BIGINT)
        |          AS rank
        |      FROM pg, mm),
        |r2 AS (SELECT *,
        |         (100 * mg * (n_ge + 1) <= 5 * rank * 65) AS bh_pass
        |       FROM r),
        |f AS (SELECT *, max(CASE WHEN bh_pass THEN 1 ELSE 0 END) OVER (
        |        ORDER BY rank DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |        AS significant
        |      FROM r2)
        |SELECT g AS event_type, d_obs, n_ge,
        |  CAST(((n_ge + 1) * 2000000 + 65) // 130 AS DOUBLE) / 1000000.0
        |    AS p_value,
        |  rank, bh_pass, significant
        |FROM f""".stripMargin,
    "stat_spearman" -> // doubled midranks per variable over the bounded
      // per-user count domains; every cast mirrored so the double
      // combination is bit-identical
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x,
        |             CAST(count(DISTINCT event_type) AS BIGINT) AS y
        |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |gx AS (SELECT x AS v, count(*) AS nv FROM u GROUP BY 1),
        |rx AS (SELECT v, 2 * COALESCE(sum(nv) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + nv + 1 AS a
        |       FROM gx),
        |gy AS (SELECT y AS v, count(*) AS nv FROM u GROUP BY 1),
        |ry AS (SELECT v, 2 * COALESCE(sum(nv) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + nv + 1 AS b
        |       FROM gy),
        |p AS (SELECT CAST(rx.a AS BIGINT) AS a, CAST(ry.b AS BIGINT) AS b
        |      FROM u JOIN rx ON u.x = rx.v JOIN ry ON u.y = ry.v),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
        |        CAST(sum(a * b) AS BIGINT) AS sab,
        |        CAST(sum(a * a) AS BIGINT) AS saa,
        |        CAST(sum(b * b) AS BIGINT) AS sbb
        |      FROM p)
        |SELECT n,
        |  round(CASE WHEN CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
        |               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
        |              AND CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
        |               - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
        |         THEN (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        |               - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |              / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
        |                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |                 * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
        |                        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
        |         END, 6) AS rho
        |FROM s""".stripMargin,
    "a10_argmax" ->
      """SELECT event_type, user_id AS top_user, value AS top_value
        |FROM (SELECT event_type, user_id, value,
        |             row_number() OVER (
        |               PARTITION BY event_type ORDER BY value DESC, user_id) AS rn
        |      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL)
        |WHERE rn = 1""".stripMargin,
    "w6_range_frame" ->
      """SELECT event_id, user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, value,
        |       round(sum(value) OVER (
        |         PARTITION BY user_id ORDER BY epoch_ms(CAST(ts AS TIMESTAMP))
        |         RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW), 4) AS trailing_sum
        |FROM events
        |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL""".stripMargin,
    "w7_topn_per_group" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         CAST(row_number() OVER (
        |           PARTITION BY c_mktsegment
        |           ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
        |  FROM customer)
        |WHERE rnk <= 3""".stripMargin,
    "stream_sliding_agg" ->
      """WITH e AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS tms, event_type, value
        |  FROM events),
        |w AS (
        |  SELECT make_timestamp(((tms // 900000 - k) * 900000) * 1000) AS window_start,
        |         event_type, value
        |  FROM e, (SELECT unnest([0, 1, 2, 3]) AS k))
        |SELECT window_start, event_type, count(*) AS n_events,
        |       round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    "a8_approx_percentile" ->
      """SELECT l_returnflag,
        |       quantile_disc(l_quantity, 0.5) AS median_qty,
        |       quantile_disc(l_extendedprice, 0.9) AS p90_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "set_ops" ->
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |SELECT o_custkey, 'only_f' AS tag FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
        |UNION ALL
        |SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM f INTERSECT SELECT * FROM o)""".stripMargin,
    "w2_lag" ->
      """SELECT event_id, user_id,
        |       lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         AS prev_value
        |FROM events""".stripMargin,
    "w3_running_sum" ->
      """SELECT o_orderkey, o_custkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
        |         AS running_total
        |FROM orders""".stripMargin,
    "p11_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS name_upper,
        |       substr(c_mktsegment, 1, 3) AS seg3,
        |       CAST(length(c_name) AS INT) AS name_len,
        |       concat_ws('-', c_mktsegment, c_custkey) AS seg_key
        |FROM customer""".stripMargin,
    "f2_regex_extract" ->
      """SELECT p_partkey, regexp_extract(p_type, '^(\w+)', 1) AS type_head
        |FROM part""".stripMargin,
    "stream_window_agg" ->
      """SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |         AS window_start,
        |       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_daily_rollup" ->
      """SELECT CAST(ts AS DATE) AS d, user_id, count(*) AS n_events,
        |       round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_topk_sketch" -> // per-window rank under the aggregate's
      // (value DESC, user_id ASC) contract; duplicate rows rank as
      // duplicate heap entries on both sides
      """WITH e AS (SELECT CAST(time_bucket(INTERVAL '1 hour',
        |                    CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |                  user_id, value
        |           FROM events
        |           WHERE user_id IS NOT NULL AND value IS NOT NULL
        |             AND ts IS NOT NULL)
        |SELECT window_start, CAST(rn AS BIGINT) AS rnk, user_id, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY window_start
        |        ORDER BY value DESC, user_id) AS rn FROM e)
        |WHERE rn <= 5""".stripMargin,
    "stream_freq_sketch" -> // every CMS cell rebuilt: same md5 buckets,
      // same hour-floor windows — additive counts are engine-exact
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
        |           FROM events
        |           WHERE event_type IS NOT NULL AND ts IS NOT NULL)
        |SELECT date_trunc('hour', e.ts) AS window_start, t.j,
        |       CAST('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':' ||
        |            event_type), 1, 8) AS BIGINT) % 256 AS bucket,
        |       count(*) AS cnt
        |FROM e CROSS JOIN generate_series(0, 3) t(j)
        |GROUP BY 1, 2, 3""".stripMargin,
    "stream_hll_sketch" -> // per-window registers rebuilt from first
      // principles: same md5 hashes, same idx/rho integer arithmetic,
      // exact-BIGINT Z, shared estimator literal (see sketch_hll_distinct)
      ("""WITH base AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
        |                  AS window_start,
        |                CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |                     1, 15) AS BIGINT) AS hv
        |              FROM events
        |              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT window_start, hv // 562949953421312 AS idx,
        |             hv % 562949953421312 AS sfx FROM base),
        |m AS (SELECT window_start, idx,
        |             max(CASE WHEN sfx = 0 THEN 50
        |                      ELSE 50 - length(bin(sfx)) END) AS mj
        |      FROM r GROUP BY 1, 2),
        |z AS (SELECT window_start,
        |             CAST(sum(CAST(1 AS BIGINT) << (50 - mj))
        |               + (2048 - count(*)) * (CAST(1 AS BIGINT) << 50)
        |               AS BIGINT) AS zs,
        |             CAST(2048 - count(*) AS BIGINT) AS zero_regs
        |      FROM m GROUP BY 1)
        |SELECT window_start, CAST(floor(""".stripMargin +
        graft.functions.Hll.EstNumerator.toString +
        """ / zs) AS BIGINT) AS est_distinct_users, zero_regs
        |FROM z""".stripMargin),
    "stream_bitmap_distinct" -> // the bitmap path is exact, so the oracle
      // is the plain per-window distinct count
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "bitmap_rolling_distinct" -> // exact again: each day joined to its
      // trailing calendar week of events, distinct-counted directly
      """WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |days AS (SELECT DISTINCT d FROM e),
        |daily AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT)
        |                 AS day_distinct
        |          FROM e GROUP BY 1),
        |rolling AS (SELECT days.d,
        |              CAST(count(DISTINCT e.user_id) AS BIGINT)
        |                AS rolling_7d_distinct
        |            FROM days JOIN e
        |              ON e.d BETWEEN days.d - 6 AND days.d
        |            GROUP BY 1)
        |SELECT r.d, r.rolling_7d_distinct, daily.day_distinct
        |FROM rolling r JOIN daily USING (d)
        |ORDER BY r.d""".stripMargin,
    "events_type_bigrams" -> // same keyed lead over (ts, event_id) order
      """WITH s AS (SELECT user_id, event_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |               AS next_type
        |           FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |             AND event_type IS NOT NULL AND event_id IS NOT NULL)
        |SELECT event_type AS t_a, next_type AS t_b,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM s WHERE next_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "events_hourly_profile" ->
      """WITH h AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
        |             CAST(count(*) AS BIGINT) AS n_events
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_total
        |      FROM h GROUP BY 1)
        |SELECT h.event_type, h.hod, h.n_events,
        |       CAST((h.n_events * 2000000 + t.n_total) // (2 * t.n_total)
        |            AS DOUBLE) / 1000000.0 AS share
        |FROM h JOIN t ON t.event_type = h.event_type
        |ORDER BY h.event_type, h.hod""".stripMargin,
    "stream_lateness" -> // per-type running max in exact integer micros
      // (epoch_us mirrors unix_micros); first-of-stream never late
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS tus
        |           FROM events),
        |w AS (SELECT event_type, tus,
        |        max(tus) OVER (PARTITION BY event_type ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - 600000000 AS wm
        |      FROM e),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(sum(CASE WHEN tus < wm THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_late
        |      FROM w GROUP BY 1)
        |SELECT event_type, n_events, n_late,
        |       CAST((n_late * 2000000 + n_events) // (2 * n_events)
        |            AS DOUBLE) / 1000000.0 AS late_share
        |FROM c ORDER BY event_type""".stripMargin,
    "w10_streaks" -> // same difference-of-sequences rendering; month index
      // and row_number both BIGINT in DuckDB, so the island key needs no
      // casts; census keys cast to BIGINT on both sides
      """WITH m AS (SELECT DISTINCT o_custkey,
        |             year(CAST(o_orderdate AS DATE)) * 12
        |               + month(CAST(o_orderdate AS DATE)) - 1 AS m
        |           FROM orders),
        |r AS (SELECT o_custkey, m,
        |             m - row_number() OVER (PARTITION BY o_custkey
        |                                    ORDER BY m) AS island
        |      FROM m),
        |runs AS (SELECT o_custkey, island, count(*) AS len
        |         FROM r GROUP BY 1, 2),
        |longest AS (SELECT o_custkey, max(len) AS longest
        |            FROM runs GROUP BY 1)
        |SELECT CAST(longest AS BIGINT) AS streak_months,
        |       CAST(count(*) AS BIGINT) AS n_customers
        |FROM longest GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "stream_quantile_sketch" -> // identical bottom-k-by-hash window
      // samples (same 60-bit md5 hashes, same (hv, v) order) and the same
      // rank-selection arithmetic — sample and estimates bit-for-bit
      """WITH base AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
        |                  AS window_start,
        |                CAST(value AS DOUBLE) AS v,
        |                CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),
        |                     1, 15) AS BIGINT) AS hv
        |              FROM events
        |              WHERE value IS NOT NULL AND event_id IS NOT NULL
        |                AND ts IS NOT NULL),
        |kept AS (SELECT window_start, v FROM
        |           (SELECT window_start, v, row_number() OVER
        |              (PARTITION BY window_start ORDER BY hv, v) AS srn
        |            FROM base)
        |         WHERE srn <= 64),
        |sel AS (SELECT window_start, v,
        |          row_number() OVER (PARTITION BY window_start ORDER BY v)
        |            AS vrn,
        |          count(*) OVER (PARTITION BY window_start) AS m
        |        FROM kept),
        |counts AS (SELECT window_start, count(*) AS n_rows
        |           FROM base GROUP BY 1)
        |SELECT s.window_start, c.n_rows, max(s.m) AS m,
        |       round(min(CASE WHEN s.vrn = CEIL(0.5 * s.m) THEN s.v END), 2)
        |         AS est_p50,
        |       round(min(CASE WHEN s.vrn = CEIL(0.9 * s.m) THEN s.v END), 2)
        |         AS est_p90
        |FROM sel s JOIN counts c USING (window_start)
        |GROUP BY 1, 2""".stripMargin,
    "events_json_extract" ->
      """SELECT event_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin,
    "j8_interval_join" ->
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events WHERE event_type = 'view'),
        |r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |             event_id AS purchase_id, value AS purchase_value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |       r.ts AS purchase_ts, r.purchase_id, r.purchase_value
        |FROM l JOIN r ON l.user_id = r.user_id
        |  AND r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts""".stripMargin,
    "sessionize_batch" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts FROM events),
        |m AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM m)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "sessionize_window" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, value
        |           FROM events),
        |m AS (SELECT user_id, ts, value,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM m)
        |SELECT min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "dq_check" ->
      """WITH r1 AS (SELECT CAST(0 AS BIGINT) AS ordinal,
        |                   'l_shipdate_not_null' AS rule,
        |                   count(*) FILTER (WHERE l_shipdate IS NULL) AS n_violations,
        |                   count(*) AS n_checked FROM lineitem),
        |r2 AS (SELECT 1, 'l_quantity_in_range',
        |              count(*) FILTER (WHERE l_quantity IS NULL
        |                               OR l_quantity < 1 OR l_quantity > 30),
        |              count(*) FROM lineitem),
        |r3 AS (SELECT 2, 'l_returnflag_matches',
        |              count(*) FILTER (WHERE l_returnflag IS NULL
        |                               OR NOT regexp_matches(l_returnflag, '^[ANR]$')),
        |              count(*) FROM lineitem),
        |r4 AS (SELECT 3, 'l_orderkey_l_linenumber_unique',
        |              count(*) FILTER (WHERE l_orderkey IS NOT NULL
        |                               AND l_linenumber IS NOT NULL)
        |                - count(DISTINCT (l_orderkey, l_linenumber))
        |                  FILTER (WHERE l_orderkey IS NOT NULL
        |                          AND l_linenumber IS NOT NULL),
        |              count(*) FROM lineitem),
        |r5 AS (SELECT 4, 'l_partkey_small_fk',
        |              count(*) FILTER (WHERE l_partkey NOT IN
        |                (SELECT p_partkey FROM part WHERE p_size <= 25)),
        |              count(*) FROM lineitem WHERE l_partkey IS NOT NULL)
        |SELECT ordinal, rule, n_violations, n_checked, n_violations = 0 AS pass
        |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |      UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
        |      UNION ALL SELECT * FROM r5)""".stripMargin,
    "snapshot_time_travel" ->
      // what version 1 held: the filtered rollup, not the v2 full one
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 4) AS total
        |FROM orders WHERE o_totalprice > 300000 GROUP BY 1""".stripMargin,
    "snapshot_diff" ->
      """WITH keyed AS (SELECT o_orderkey % 7 AS k, o_totalprice FROM orders),
        |v1 AS (SELECT k, count(*) AS n, round(sum(o_totalprice), 4) AS total
        |       FROM keyed WHERE k <= 4 GROUP BY 1),
        |v2 AS (SELECT k, count(*) AS n, round(sum(o_totalprice), 4) AS total
        |       FROM keyed WHERE k >= 2 AND o_totalprice > 50000 GROUP BY 1),
        |j AS (SELECT coalesce(v1.k, v2.k) AS k,
        |             v1.n AS n1, v1.total AS t1, v2.n AS n2, v2.total AS t2
        |      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
        |SELECT k,
        |       CASE WHEN n1 IS NULL THEN 'I' WHEN n2 IS NULL THEN 'D'
        |            ELSE 'U' END AS op,
        |       CASE WHEN n2 IS NULL THEN n1 ELSE n2 END AS n,
        |       CASE WHEN n2 IS NULL THEN t1 ELSE t2 END AS total
        |FROM j
        |WHERE n1 IS NULL OR n2 IS NULL OR n1 <> n2 OR t1 <> t2""".stripMargin,
    "gridded_ingest" ->
      // regenerates GridFixture's closed-form cell values from pure index
      // math (no table, no binary file) and applies the same P2-P8 chain —
      // an independent-engine check of the whole source+ingest path
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells)
        |SELECT CAST(trunc((-262.5 + 25.0*x) * 1000) AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0*y) * 1000) AS INT) AS yc_m,
        |       DATE '2020-03-01' + CAST(t AS INT) AS date_forecast_generated,
        |       DATE '2020-03-01' + CAST(t + l + 1 AS INT) AS date_forecast_for,
        |       CAST(sic_mean AS FLOAT) AS sea_ice_concentration_mean,
        |       CAST(sic_stddev AS FLOAT) AS sea_ice_concentration_stddev
        |FROM vals
        |WHERE sic_mean > 0 AND sic_stddev IS NOT NULL""".stripMargin,
    "gridded_extent" -> // same closed-form regeneration + ingest filter,
      // integer threshold compare, exact BIGINT extent
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells),
        |v AS (SELECT t, l, CAST(CAST(sic_mean AS FLOAT) AS DOUBLE) AS sic
        |      FROM vals WHERE sic_mean > 0 AND sic_stddev IS NOT NULL),
        |g AS (SELECT t, l, CAST(count(*) AS BIGINT) AS n_cells,
        |        CAST(sum(CASE WHEN sic * 100 > 15 THEN 1 ELSE 0 END)
        |             AS BIGINT) AS n_ice_cells
        |      FROM v GROUP BY 1, 2)
        |SELECT DATE '2020-03-01' + CAST(t AS INT) AS date_forecast_generated,
        |       CAST(l + 1 AS BIGINT) AS leadtime, n_cells, n_ice_cells,
        |       n_ice_cells * 625 AS extent_km2
        |FROM g ORDER BY 1, 2""".stripMargin,
    "gridded_anomaly" -> // same closed-form regeneration + ingest filter,
      // then the (cell, leadtime) climatology join
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells),
        |v AS (SELECT t, l, y, x,
        |        CAST(sic_mean AS FLOAT) AS sic_f,
        |        CAST(CAST(sic_mean AS FLOAT) AS DOUBLE) AS sic
        |      FROM vals WHERE sic_mean > 0 AND sic_stddev IS NOT NULL),
        |clim AS (SELECT l, y, x, CAST(count(*) AS BIGINT) AS n_obs,
        |                avg(sic) AS clim_mean
        |         FROM v GROUP BY 1, 2, 3)
        |SELECT DATE '2020-03-01' + CAST(v.t AS INT)
        |         AS date_forecast_generated,
        |       CAST(v.l + 1 AS BIGINT) AS leadtime,
        |       CAST(trunc((-262.5 + 25.0*v.x) * 1000) AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0*v.y) * 1000) AS INT) AS yc_m,
        |       v.sic_f AS sea_ice_concentration_mean,
        |       clim.n_obs, clim.clim_mean,
        |       v.sic - clim.clim_mean AS anomaly
        |FROM v JOIN clim ON clim.l = v.l AND clim.y = v.y AND clim.x = v.x""".stripMargin,
    "gridded_regrid" -> // same closed-form cell regeneration, then the
      // identical 2x2 block census (NULL where the engine sees NaN)
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL
        |         ELSE k/10.0 - 0.4 END AS sic_mean
        |  FROM cells),
        |g AS (SELECT t, l, y // 2 AS yi_c, x // 2 AS xi_c,
        |        count(sic_mean) AS n_cells, min(sic_mean) AS sic_min,
        |        max(sic_mean) AS sic_max, avg(sic_mean) AS sic_avg
        |      FROM vals GROUP BY 1, 2, 3, 4)
        |SELECT DATE '2020-03-01' + CAST(t AS INT)
        |         AS date_forecast_generated,
        |       CAST(l + 1 AS BIGINT) AS leadtime,
        |       CAST(trunc((-262.5 + 25.0 * (xi_c * 2 + 0.5)) * 1000)
        |            AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0 * (yi_c * 2 + 0.5)) * 1000)
        |            AS INT) AS yc_m,
        |       CAST(n_cells AS BIGINT) AS n_cells,
        |       sic_min, sic_max, sic_avg
        |FROM g""".stripMargin,
    "gridded_ingest_hdf5" -> // same closed-form regeneration: the
      // container changed (HDF5), the logical content and chain did not
      // regenerates GridFixture's closed-form cell values from pure index
      // math (no table, no binary file) and applies the same P2-P8 chain —
      // an independent-engine check of the whole source+ingest path
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells)
        |SELECT CAST(trunc((-262.5 + 25.0*x) * 1000) AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0*y) * 1000) AS INT) AS yc_m,
        |       DATE '2020-03-01' + CAST(t AS INT) AS date_forecast_generated,
        |       DATE '2020-03-01' + CAST(t + l + 1 AS INT) AS date_forecast_for,
        |       CAST(sic_mean AS FLOAT) AS sea_ice_concentration_mean,
        |       CAST(sic_stddev AS FLOAT) AS sea_ice_concentration_stddev
        |FROM vals
        |WHERE sic_mean > 0 AND sic_stddev IS NOT NULL""".stripMargin,
    "gridded_ingest_hdf5_latest" -> // same closed-form regeneration again:
      // only the container dialect changed (superblock v3 / OHDR v2 /
      // layout v4 fixed-array / shuffle+deflate), never the content
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells)
        |SELECT CAST(trunc((-262.5 + 25.0*x) * 1000) AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0*y) * 1000) AS INT) AS yc_m,
        |       DATE '2020-03-01' + CAST(t AS INT) AS date_forecast_generated,
        |       DATE '2020-03-01' + CAST(t + l + 1 AS INT) AS date_forecast_for,
        |       CAST(sic_mean AS FLOAT) AS sea_ice_concentration_mean,
        |       CAST(sic_stddev AS FLOAT) AS sea_ice_concentration_stddev
        |FROM vals
        |WHERE sic_mean > 0 AND sic_stddev IS NOT NULL""".stripMargin,
    "gridded_ingest_hdf5_unlim" -> // once more: only the chunk index
      // changed (extensible array for the unlimited time axis)
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells)
        |SELECT CAST(trunc((-262.5 + 25.0*x) * 1000) AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0*y) * 1000) AS INT) AS yc_m,
        |       DATE '2020-03-01' + CAST(t AS INT) AS date_forecast_generated,
        |       DATE '2020-03-01' + CAST(t + l + 1 AS INT) AS date_forecast_for,
        |       CAST(sic_mean AS FLOAT) AS sea_ice_concentration_mean,
        |       CAST(sic_stddev AS FLOAT) AS sea_ice_concentration_stddev
        |FROM vals
        |WHERE sic_mean > 0 AND sic_stddev IS NOT NULL""".stripMargin,
    "gridded_ingest_hdf5_bt2" -> // once more: only the chunk index
      // changed (v2 B-tree, the multi-unlimited-dim class)
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells)
        |SELECT CAST(trunc((-262.5 + 25.0*x) * 1000) AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0*y) * 1000) AS INT) AS yc_m,
        |       DATE '2020-03-01' + CAST(t AS INT) AS date_forecast_generated,
        |       DATE '2020-03-01' + CAST(t + l + 1 AS INT) AS date_forecast_for,
        |       CAST(sic_mean AS FLOAT) AS sea_ice_concentration_mean,
        |       CAST(sic_stddev AS FLOAT) AS sea_ice_concentration_stddev
        |FROM vals
        |WHERE sic_mean > 0 AND sic_stddev IS NOT NULL""".stripMargin,
    "gridded_ingest_hdf5_dense" -> // once more: only the GROUP storage
      // changed (dense fractal-heap links, root indirect block, depth-1
      // type-5 name B-tree)
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells)
        |SELECT CAST(trunc((-262.5 + 25.0*x) * 1000) AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0*y) * 1000) AS INT) AS yc_m,
        |       DATE '2020-03-01' + CAST(t AS INT) AS date_forecast_generated,
        |       DATE '2020-03-01' + CAST(t + l + 1 AS INT) AS date_forecast_for,
        |       CAST(sic_mean AS FLOAT) AS sea_ice_concentration_mean,
        |       CAST(sic_stddev AS FLOAT) AS sea_ice_concentration_stddev
        |FROM vals
        |WHERE sic_mean > 0 AND sic_stddev IS NOT NULL""".stripMargin,
    "gridded_ingest_hdf5_dense_ind" -> // once more: only the HEAP shape
      // changed (fractal-heap INDIRECT CHILD blocks behind the root)
      """WITH ti AS (SELECT unnest(generate_series(0, 1)) AS t),
        |li AS (SELECT unnest(generate_series(0, 2)) AS l),
        |yi AS (SELECT unnest(generate_series(0, 5)) AS y),
        |xi AS (SELECT unnest(generate_series(0, 7)) AS x),
        |cells AS (
        |  SELECT t, l, y, x, (7*t + 5*l + 3*y + x) % 19 AS k
        |  FROM ti CROSS JOIN li CROSS JOIN yi CROSS JOIN xi),
        |vals AS (
        |  SELECT t, l, y, x,
        |    CASE WHEN (t+l+y+x) % 11 = 0 THEN NULL ELSE k/10.0 - 0.4 END AS sic_mean,
        |    CASE WHEN (t+l+y+x+1) % 13 = 0 THEN NULL ELSE (k*k % 7)/100.0 END AS sic_stddev
        |  FROM cells)
        |SELECT CAST(trunc((-262.5 + 25.0*x) * 1000) AS INT) AS xc_m,
        |       CAST(trunc((-537.5 + 25.0*y) * 1000) AS INT) AS yc_m,
        |       DATE '2020-03-01' + CAST(t AS INT) AS date_forecast_generated,
        |       DATE '2020-03-01' + CAST(t + l + 1 AS INT) AS date_forecast_for,
        |       CAST(sic_mean AS FLOAT) AS sea_ice_concentration_mean,
        |       CAST(sic_stddev AS FLOAT) AS sea_ice_concentration_stddev
        |FROM vals
        |WHERE sic_mean > 0 AND sic_stddev IS NOT NULL""".stripMargin,
    "multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |       (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |       CAST(length(text) AS INT) AS n_bytes,
        |       CAST(list_aggregate(list_transform(generate_series(1, length(text)),
        |         i -> ord(substr(text, i, 1)) * ((i-1) % 7 + 1)), 'sum') AS BIGINT)
        |         AS checksum
        |FROM documents""".stripMargin,
    "multimodal_frame_sample" ->
      """SELECT doc_id AS media_id,
        |       CAST(unnest(generate_series(0, CAST(doc_id % 100 AS INT), 4)) AS INT)
        |         AS frame_idx
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin,
    "multimodal_batch_embed" ->
      """WITH c AS (
        |  SELECT doc_id AS media_id,
        |         CAST(list_aggregate(list_transform(generate_series(1, length(text)),
        |           i -> ord(substr(text, i, 1)) * ((i-1) % 7 + 1)), 'sum') AS BIGINT)
        |           AS checksum
        |  FROM documents)
        |SELECT media_id, CAST(j AS INT) AS dim,
        |       round(((checksum + j) % 97) / 97.0, 6) AS val
        |FROM c, (SELECT unnest(generate_series(0, 3)) AS j)""".stripMargin,
    "multimodal_image_decode" -> // pure arithmetic prediction of the PNG
      // round trip: left w/2 columns one color, rest another — only a
      // codec that really decodes the PNG reproduces these sums.
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 64 + 1 AS INT) AS w,
        |         CAST(doc_id % 48 + 1 AS INT) AS h,
        |         CAST(doc_id % 64 + 1 AS INT) // 2 AS wl
        |  FROM documents)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |       CAST(w AS BIGINT) * h AS n_pixels,
        |       CAST(h AS BIGINT) * (wl * (doc_id % 256)
        |         + (w - wl) * ((doc_id * 3) % 256)) AS sum_r,
        |       CAST(h AS BIGINT) * (wl * ((doc_id * 7) % 256)
        |         + (w - wl) * ((doc_id * 5) % 256)) AS sum_g,
        |       CAST(h AS BIGINT) * (wl * ((doc_id * 13) % 256)
        |         + (w - wl) * ((doc_id * 11) % 256)) AS sum_b
        |FROM g""".stripMargin,
    "multimodal_resize" -> // pure arithmetic prediction of the 2x box
      // resize: the two-color column split makes every 2x2 block
      // full-left (value L), full-right (R) or the one straddle block
      // ((L+R)//2 — the truncating block mean); sums are oh * per-row.
      """WITH g AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 64 + 1 AS INT) AS w,
        |         CAST(doc_id % 48 + 1 AS INT) AS h,
        |         CAST(doc_id % 64 + 1 AS INT) // 2 AS wl
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, h, ow, oh,
        |         wl // 2 AS nl, wl % 2 AS st,
        |         ow - wl // 2 - wl % 2 AS nr
        |  FROM (SELECT doc_id, w, h, wl, w // 2 AS ow, h // 2 AS oh
        |        FROM g))
        |SELECT doc_id AS media_id,
        |       w AS in_w, h AS in_h,
        |       CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |       CAST(ow AS BIGINT) * oh AS n_pixels,
        |       CAST(oh AS BIGINT) * (nl * (doc_id % 256)
        |         + st * (((doc_id % 256) + ((doc_id * 3) % 256)) // 2)
        |         + nr * ((doc_id * 3) % 256)) AS sum_r,
        |       CAST(oh AS BIGINT) * (nl * ((doc_id * 7) % 256)
        |         + st * ((((doc_id * 7) % 256) + ((doc_id * 5) % 256)) // 2)
        |         + nr * ((doc_id * 5) % 256)) AS sum_g,
        |       CAST(oh AS BIGINT) * (nl * ((doc_id * 13) % 256)
        |         + st * ((((doc_id * 13) % 256) + ((doc_id * 11) % 256)) // 2)
        |         + nr * ((doc_id * 11) % 256)) AS sum_b
        |FROM c""".stripMargin,
    "multimodal_audio_decode" -> // pure arithmetic prediction of the WAV
      // round trip: sample(i) = (id*31 + i*7919) % 2001 - 1000 — only a
      // codec that really parses RIFF/PCM reproduces these sums.
      """WITH g AS (
        |  SELECT doc_id, CAST(doc_id % 200 + 40 AS INT) AS n,
        |         CAST(8000 + (doc_id % 4) * 4000 AS INT) AS rate
        |  FROM documents),
        |s AS (
        |  SELECT g.doc_id, g.n, g.rate,
        |         (g.doc_id * 31 + i.i * 7919) % 2001 - 1000 AS v
        |  FROM g JOIN LATERAL (
        |    SELECT unnest(generate_series(0, g.n - 1)) AS i) i ON true)
        |SELECT doc_id AS media_id, rate AS sample_rate, 1 AS channels,
        |       CAST(n AS BIGINT) AS n_samples,
        |       CAST(sum(v) AS BIGINT) AS sum_amp,
        |       CAST(sum(v * v) AS BIGINT) AS sum_sq
        |FROM s GROUP BY 1, 2, 3, 4""".stripMargin,
    "multimodal_audio_windows" -> // the audio_decode closed form grouped
      // by i // 64 — only a real PCM decode reproduces per-window sums
      """WITH g AS (
        |  SELECT doc_id, CAST(doc_id % 200 + 40 AS INT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT g.doc_id, i.i // 64 AS window_id,
        |         (g.doc_id * 31 + i.i * 7919) % 2001 - 1000 AS v
        |  FROM g JOIN LATERAL (
        |    SELECT unnest(generate_series(0, g.n - 1)) AS i) i ON true)
        |SELECT doc_id AS media_id, CAST(window_id AS BIGINT) AS window_id,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(sum(v) AS BIGINT) AS sum_amp,
        |       CAST(sum(v * v) AS BIGINT) AS sum_sq
        |FROM s GROUP BY 1, 2""".stripMargin,
    "multimodal_video_decode" -> // pure arithmetic prediction of the AVI
      // round trip: nf frames of w x h JPEGs — only a codec that really
      // walks the RIFF tree and reads each frame's SOF header reproduces
      // the count and dimension sums.
      """SELECT doc_id AS media_id,
        |       CAST(doc_id % 5 + 2 AS BIGINT) AS n_frames,
        |       CAST((doc_id % 5 + 2) * (doc_id % 32 + 16) AS BIGINT) AS sum_w,
        |       CAST((doc_id % 5 + 2) * (doc_id % 24 + 12) AS BIGINT) AS sum_h
        |FROM documents""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 4) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
        |         AS sum_charge,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
        |GROUP BY 1, 2""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND CAST(l.l_shipdate AS DATE) >
        |                    CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 4) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             EXTRACT(year FROM l_shipdate) AS l_year,
        |             l_extendedprice * (1 - l_discount) AS volume
        |      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
        |             (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |        AND CAST(l_shipdate AS DATE)
        |            BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
        |GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year,
        |       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
        |             / sum(volume), 4) AS mkt_share
        |FROM (SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |             l_extendedprice * (1 - l_discount) AS volume,
        |             n2.n_name AS supp_nation
        |      FROM part JOIN lineitem ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |      JOIN region ON n1.n_regionkey = r_regionkey
        |      JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |        AND CAST(o_orderdate AS DATE)
        |            BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
        |GROUP BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT nation, o_year, round(sum(amount), 4) AS sum_profit
        |FROM (SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
        |             l_extendedprice * (1 - l_discount)
        |               - 0.6 * p_retailprice * l_quantity AS amount
        |      FROM part JOIN lineitem ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN nation ON s_nationkey = n_nationkey
        |      WHERE p_type = 'STANDARD')
        |GROUP BY 1, 2""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |       c_acctbal, n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 4, 5
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q13_order_count_dist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |        AND o_orderpriority <> '5-LOW'
        |      GROUP BY 1)
        |GROUP BY 1""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                              THEN l_extendedprice * (1 - l_discount)
        |                              ELSE 0 END)
        |             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-03-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |         round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
    "q17_small_quantity" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#12'
        |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |       CAST(o_orderdate AS DATE) AS order_date, o_totalprice,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY 1 HAVING sum(l_quantity) > 150)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey,
        |         round(avg(l_extendedprice / l_quantity), 4) AS unit_cost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_size <= 10 AND p_type = 'STANDARD')
        |  GROUP BY 1, 2),
        |best AS (SELECT l_partkey, min(unit_cost) AS min_cost FROM cost GROUP BY 1)
        |SELECT cost.l_partkey AS p_partkey, s_name, s_acctbal, n_name,
        |       unit_cost AS min_cost
        |FROM cost
        |JOIN best ON best.l_partkey = cost.l_partkey AND unit_cost = best.min_cost
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |ORDER BY s_acctbal DESC, p_partkey, s_name
        |LIMIT 100""".stripMargin,
    "q11_important_stock" ->
      """WITH value AS (
        |  SELECT n_name, l_partkey,
        |         round(sum(l_extendedprice * l_quantity), 4) AS part_value
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name, l_partkey, part_value
        |FROM value
        |WHERE part_value > (SELECT 3.0 * avg(part_value) FROM value)
        |ORDER BY part_value DESC, n_name, l_partkey
        |LIMIT 100""".stripMargin,
    "q12_late_priority" ->
      """SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
        |GROUP BY 1""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH flagged AS (
        |  SELECT l_orderkey, l_suppkey,
        |         max(CASE WHEN CAST(l_shipdate AS DATE) >
        |                       CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
        |                  THEN 1 ELSE 0 END) AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |per_order AS (
        |  SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late,
        |         max(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
        |  FROM flagged GROUP BY 1)
        |SELECT s_name, count(*) AS numwait
        |FROM per_order JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp > 1 AND n_late = 1
        |GROUP BY 1
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |       round(sum(c_acctbal), 4) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
        |GROUP BY 1""".stripMargin,
    "maint_compact" ->
      // compaction changes layout, never content: the oracle is the source
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderpriority
        |FROM orders""".stripMargin,
    "sketch_join_size" -> // identical CMS sketches on both sides, same
      // inner-product estimator, exact join count alongside
      """WITH a AS (SELECT CAST(o_custkey AS VARCHAR) AS key FROM orders
        |           WHERE o_custkey IS NOT NULL),
        |b AS (SELECT CAST(c_custkey AS VARCHAR) AS key FROM customer
        |      WHERE c_custkey IS NOT NULL),
        |ja AS (SELECT t.j,
        |              CAST('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':' ||
        |                   key), 1, 8) AS BIGINT) % 256 AS bucket,
        |              count(*) AS ca
        |       FROM a CROSS JOIN generate_series(0, 3) t(j) GROUP BY 1, 2),
        |jb AS (SELECT t.j,
        |              CAST('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':' ||
        |                   key), 1, 8) AS BIGINT) % 256 AS bucket,
        |              count(*) AS cb
        |       FROM b CROSS JOIN generate_series(0, 3) t(j) GROUP BY 1, 2),
        |est AS (SELECT ja.j, sum(ca * cb) AS row_est
        |        FROM ja JOIN jb ON ja.j = jb.j AND ja.bucket = jb.bucket
        |        GROUP BY 1)
        |SELECT (SELECT CAST(min(row_est) AS BIGINT) FROM est)
        |         AS est_join_size,
        |       (SELECT count(*) FROM a JOIN b ON a.key = b.key)
        |         AS exact_join_size""".stripMargin,
    "hier_rollup" -> // the recursive CTE Spark lacks: DuckDB walks the
      // parent pointers directly; the pointer-jumped closure must agree
      """WITH RECURSIVE anc AS (
        |  SELECT p_partkey AS node, p_partkey // 2 AS a,
        |         CAST(1 AS BIGINT) AS d
        |  FROM part WHERE p_partkey // 2 >= 1
        |  UNION ALL
        |  SELECT node, a // 2, d + 1 FROM anc WHERE a // 2 >= 1
        |),
        |pairs AS (SELECT node, a FROM anc
        |          UNION ALL SELECT p_partkey, p_partkey FROM part),
        |roll AS (SELECT pairs.a AS node, count(*) AS n_subtree,
        |                CAST(sum(CAST(p.p_retailprice AS DECIMAL(18,2)))
        |                     AS DOUBLE) AS subtree_value
        |         FROM pairs JOIN part p ON p.p_partkey = pairs.node
        |         GROUP BY 1),
        |dep AS (SELECT node, max(d) AS depth FROM anc GROUP BY 1)
        |SELECT r.node AS p_partkey, COALESCE(dep.depth, CAST(0 AS BIGINT))
        |         AS depth,
        |       r.n_subtree, r.subtree_value
        |FROM roll r LEFT JOIN dep ON dep.node = r.node""".stripMargin,
    "hier_distinct_rollup" -> // same bottom-64 subtree sketches built
      // from ALL hashes directly — certifying the Spark side's
      // merge-along-closure path by the KMV merge property
      """WITH RECURSIVE anc AS (
        |  SELECT p_partkey AS node, p_partkey // 2 AS a,
        |         CAST(1 AS BIGINT) AS d
        |  FROM part WHERE p_partkey // 2 >= 1
        |  UNION ALL
        |  SELECT node, a // 2, d + 1 FROM anc WHERE a // 2 >= 1
        |),
        |pairs AS (SELECT node, a FROM anc
        |          UNION ALL SELECT p_partkey, p_partkey FROM part),
        |h AS (SELECT l.l_partkey AS node,
        |             CAST('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)),
        |                  1, 15) AS BIGINT) AS hv
        |      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |      WHERE o.o_custkey IS NOT NULL),
        |sub AS (SELECT DISTINCT pairs.a AS anc, h.hv
        |        FROM pairs JOIN h ON h.node = pairs.node),
        |rk AS (SELECT anc, hv,
        |              row_number() OVER (PARTITION BY anc ORDER BY hv) AS rn,
        |              count(*) OVER (PARTITION BY anc) AS m
        |       FROM sub)
        |SELECT anc AS p_partkey,
        |       CASE WHEN max(m) < 64 THEN max(m)
        |            ELSE CAST(floor(63.0 * 1152921504606846976.0 /
        |                 max(CASE WHEN rn = 64 THEN hv END)) AS BIGINT)
        |       END AS est_distinct_customers,
        |       CAST(least(max(m), 64) AS BIGINT) AS sketch_size
        |FROM rk WHERE rn <= 64
        |GROUP BY 1""".stripMargin,
    "maint_reconcile" -> // the TRUE diff, computed directly — certifies
      // the bucket-signature pruning dropped no differing key.
      """WITH l AS (SELECT o_orderkey AS k,
        |                  o_orderstatus || '#' || CAST(o_custkey AS VARCHAR)
        |                    AS payload
        |           FROM orders),
        |kept AS (SELECT k, CASE WHEN k % 97 = 0 THEN payload || '!'
        |                        ELSE payload END AS payload
        |         FROM l WHERE k % 101 <> 0),
        |ins AS (SELECT k + 10000000 AS k,
        |               'NEW#' || CAST(k AS VARCHAR) AS payload
        |        FROM l WHERE k % 103 = 0),
        |r AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT COALESCE(l.k, r.k) AS k,
        |       CASE WHEN r.k IS NULL THEN 'D'
        |            WHEN l.k IS NULL THEN 'I'
        |            ELSE 'U' END AS op
        |FROM l FULL JOIN r ON l.k = r.k
        |WHERE l.k IS NULL OR r.k IS NULL OR l.payload <> r.payload""".stripMargin,
    "j11_range_join" ->
      """WITH ev AS (SELECT event_id, event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS tms
        |            FROM events WHERE ts IS NOT NULL),
        |err AS (SELECT event_id AS error_id, tms - 1800000 AS lo, tms + 1800000 AS hi
        |        FROM ev WHERE event_type = 'error'),
        |clk AS (SELECT event_id AS click_id, tms FROM ev WHERE event_type = 'click')
        |SELECT error_id, count(*) AS n_nearby
        |FROM err JOIN clk ON tms BETWEEN lo AND hi
        |GROUP BY 1""".stripMargin,
    "maint_partition_stats" ->
      """SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
        |       min(l_orderkey) AS min_l_orderkey,
        |       max(l_orderkey) AS max_l_orderkey,
        |       count(*) - count(l_orderkey) AS nulls_l_orderkey,
        |       min(l_quantity) AS min_l_quantity,
        |       max(l_quantity) AS max_l_quantity,
        |       count(*) - count(l_quantity) AS nulls_l_quantity,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY 1""".stripMargin,
    "src_csv_roundtrip" -> // the oracle is the original table: the text
      // format layer must change NOTHING (timestamps compared in exact
      // integer micros)
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderpriority,
        |       epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS order_us
        |FROM orders""".stripMargin,
    "src_json_roundtrip" -> // same original-table contract
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderpriority,
        |       epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS order_us
        |FROM orders""".stripMargin,
    "maint_clustering_depth" -> // same two layouts and sweep: closes
      // (typ 0) before opens at a shared position, exact rational avg
      """WITH li AS (SELECT l_orderkey,
        |              CAST(year(CAST(l_shipdate AS DATE)) * 100
        |                + month(CAST(l_shipdate AS DATE)) AS BIGINT) AS ym
        |            FROM lineitem),
        |f AS (
        |  SELECT 'time_partitioned' AS layout, ym AS fid,
        |         CAST(min(l_orderkey) AS BIGINT) AS lo,
        |         CAST(max(l_orderkey) AS BIGINT) AS hi
        |  FROM li GROUP BY 2
        |  UNION ALL
        |  SELECT 'key_clustered', l_orderkey // 65536,
        |         CAST(min(l_orderkey) AS BIGINT),
        |         CAST(max(l_orderkey) AS BIGINT)
        |  FROM lineitem GROUP BY 2),
        |ev AS (SELECT layout, fid, lo AS pos, 1 AS delta, 1 AS typ FROM f
        |       UNION ALL
        |       SELECT layout, fid, hi + 1, -1, 0 FROM f),
        |runs AS (SELECT layout, typ, sum(delta) OVER (PARTITION BY layout
        |           ORDER BY pos, typ, fid
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS run
        |         FROM ev),
        |pairs AS (SELECT layout, CAST(sum(run - 1) AS BIGINT)
        |            AS overlap_pairs
        |          FROM runs WHERE typ = 1 GROUP BY 1),
        |bypos AS (SELECT layout, pos, sum(delta) AS net FROM ev
        |          GROUP BY 1, 2),
        |segs AS (SELECT layout, pos,
        |           sum(net) OVER (PARTITION BY layout ORDER BY pos)
        |             AS depth,
        |           lead(pos) OVER (PARTITION BY layout ORDER BY pos) - pos
        |             AS len
        |         FROM bypos),
        |agg AS (SELECT layout, CAST(max(depth) AS BIGINT) AS max_depth,
        |          CAST(sum(CASE WHEN len IS NOT NULL
        |            THEN depth * len END) AS BIGINT) AS wsum,
        |          min(pos) AS minp, max(pos) AS maxp
        |        FROM segs GROUP BY 1),
        |nf AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files FROM f
        |       GROUP BY 1)
        |SELECT n.layout, n.n_files, a.maxp - a.minp AS span, a.max_depth,
        |  CAST((a.wsum * 2000000 + greatest(a.maxp - a.minp, 1))
        |       // (2 * greatest(a.maxp - a.minp, 1)) AS DOUBLE)
        |    / 1000000.0 AS avg_depth,
        |  p.overlap_pairs
        |FROM nf n JOIN agg a ON a.layout = n.layout
        |JOIN pairs p ON p.layout = n.layout
        |ORDER BY 1""".stripMargin,
    "maint_bin_pack" -> // same size model and prefix-sum cut, HUGEINT
      // sums cast back to BIGINT before the integral divide
      """WITH f AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |             count(*) AS n_rows
        |           FROM orders GROUP BY 1),
        |b AS (SELECT d, n_rows, n_rows * 64 + 1024 AS bytes FROM f),
        |c AS (SELECT *, COALESCE(sum(bytes) OVER (ORDER BY d
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS cum_before FROM b),
        |g AS (SELECT CAST(CAST(cum_before AS BIGINT) // 262144 AS BIGINT)
        |        AS bin, n_rows, bytes, d FROM c)
        |SELECT bin, count(*) AS n_files,
        |       CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |       min(d) AS d_min, max(d) AS d_max
        |FROM g GROUP BY 1 ORDER BY bin""".stripMargin,
    "maint_zonemap_prune" -> // same integer bucketing, the Morton key as
      // its 16-term closed form (bit i of xb -> 4^i, bit i of yb ->
      // 2*4^i; LayoutSpec pins it against the native expression), same
      // 64-cell blocks, probes as a VALUES list, fractions in exact
      // fixed point
      """WITH bounds AS (SELECT max(l_partkey) AS xmax, max(l_suppkey) AS ymax
        |                FROM lineitem),
        |b0 AS (SELECT (l_partkey * 256) // (xmax + 1) AS xb,
        |              (l_suppkey * 256) // (ymax + 1) AS yb
        |       FROM lineitem, bounds
        |       WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |b AS (SELECT xb, yb,
        |        ( ((xb // 1) % 2) * 1     + ((yb // 1) % 2) * 2
        |        + ((xb // 2) % 2) * 4     + ((yb // 2) % 2) * 8
        |        + ((xb // 4) % 2) * 16    + ((yb // 4) % 2) * 32
        |        + ((xb // 8) % 2) * 64    + ((yb // 8) % 2) * 128
        |        + ((xb // 16) % 2) * 256  + ((yb // 16) % 2) * 512
        |        + ((xb // 32) % 2) * 1024 + ((yb // 32) % 2) * 2048
        |        + ((xb // 64) % 2) * 4096 + ((yb // 64) % 2) * 8192
        |        + ((xb // 128) % 2) * 16384 + ((yb // 128) % 2) * 32768
        |        ) // 64 AS zorder,
        |        (xb * 256 + yb) // 64 AS linear
        |      FROM b0),
        |probes(probe, xlo, xhi, ylo, yhi) AS (VALUES
        |  ('square_32', 96, 127, 96, 127),
        |  ('band_y16', 0, 255, 120, 135),
        |  ('band_x16', 120, 135, 0, 255)),
        |total AS (SELECT CAST(count(*) AS BIGINT) AS rows_total FROM b),
        |matched AS (SELECT probe, CAST(count(*) AS BIGINT) AS rows_matched
        |            FROM b, probes
        |            WHERE xb BETWEEN xlo AND xhi AND yb BETWEEN ylo AND yhi
        |            GROUP BY 1),
        |st AS (SELECT 'zorder' AS scheme, zorder AS block,
        |              min(xb) AS bxlo, max(xb) AS bxhi,
        |              min(yb) AS bylo, max(yb) AS byhi,
        |              count(*) AS n_rows
        |       FROM b GROUP BY 1, 2
        |       UNION ALL
        |       SELECT 'linear', linear,
        |              min(xb), max(xb), min(yb), max(yb), count(*)
        |       FROM b GROUP BY 1, 2),
        |tot AS (SELECT scheme, CAST(count(*) AS BIGINT) AS blocks_total
        |        FROM st GROUP BY 1),
        |pr AS (SELECT scheme, probe,
        |              CAST(sum(CASE WHEN bxhi >= xlo AND bxlo <= xhi
        |                             AND byhi >= ylo AND bylo <= yhi
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS blocks_read,
        |              CAST(sum(CASE WHEN bxhi >= xlo AND bxlo <= xhi
        |                             AND byhi >= ylo AND bylo <= yhi
        |                        THEN n_rows ELSE 0 END) AS BIGINT) AS rows_read
        |       FROM st, probes GROUP BY 1, 2)
        |SELECT pr.scheme, pr.probe, tot.blocks_total, pr.blocks_read,
        |       pr.rows_read, COALESCE(m.rows_matched, 0) AS rows_matched,
        |       t.rows_total,
        |       CAST((pr.rows_read * 2000000 + t.rows_total)
        |            // (2 * t.rows_total) AS DOUBLE) / 1000000.0 AS read_frac
        |FROM pr
        |JOIN tot USING (scheme)
        |LEFT JOIN matched m USING (probe)
        |CROSS JOIN total t
        |ORDER BY pr.scheme, pr.probe""".stripMargin,
    "text_bm25" ->
      """WITH terms AS (SELECT doc_id,
        |                      unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |               FROM documents),
        |tfall AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tfall GROUP BY 1),
        |stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
        |qtf AS (SELECT * FROM tfall WHERE token IN ('spark', 'window', 'merge')),
        |df AS (SELECT token, count(*) AS df FROM qtf GROUP BY 1)
        |SELECT doc_id,
        |       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
        |         AS bm25
        |FROM qtf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN stats
        |GROUP BY 1
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 20""".stripMargin,
    "retrieval_wand" -> // the WAND prune is lossless, so the oracle is
      // the PLAIN exact BM25 top-10 (same formula/rounding as text_bm25)
      """WITH terms AS (SELECT doc_id,
        |                      unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |               FROM documents),
        |tfall AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tfall GROUP BY 1),
        |stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
        |qtf AS (SELECT * FROM tfall WHERE token IN ('join', 'scan', 'filter', 'slow')),
        |df AS (SELECT token, count(*) AS df FROM qtf GROUP BY 1)
        |SELECT doc_id,
        |       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
        |         AS bm25
        |FROM qtf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN stats
        |GROUP BY 1
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 10""".stripMargin,
    "text_chunk" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |starts AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 24)) AS s
        |           FROM toks)
        |SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx,
        |       CAST(least(32, len(t) - s) AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(t[s+1 : s+32], ' ') AS chunk_text
        |FROM starts""".stripMargin,
    "q20_excess_stock" -> // the classic nested form: correlated scalar
      // subquery inside the IN — DuckDB decorrelates it to the same
      // two-aggregate join the Spark plan declares
      """SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3',
        |                 'NATION_4')
        |  AND s_suppkey IN (
        |    SELECT ps.l_suppkey
        |    FROM (SELECT l_partkey, l_suppkey, sum(l_quantity) AS avail_qty
        |          FROM lineitem
        |          WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
        |            AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
        |            AND l_partkey IN (SELECT p_partkey FROM part
        |                              WHERE p_name LIKE 'large%')
        |          GROUP BY 1, 2) ps
        |    WHERE ps.avail_qty > (
        |      SELECT 0.5 * sum(l_quantity) FROM lineitem
        |      WHERE l_partkey = ps.l_partkey AND l_suppkey = ps.l_suppkey
        |        AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |        AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'))""".stripMargin,
    "q16_parts_suppliers" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#12' AND p_size IN (1, 5, 9, 14, 23)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "w8_dist_functions" ->
      """SELECT c_custkey, c_mktsegment,
        |       round(percent_rank() OVER (
        |         PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS pct_rank,
        |       round(cume_dist() OVER (
        |         PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS cume,
        |       CAST(dense_rank() OVER (
        |         PARTITION BY c_mktsegment ORDER BY c_acctbal) AS BIGINT) AS drank
        |FROM customer""".stripMargin,
    "w9_value_windows" ->
      """SELECT o_orderkey, o_custkey,
        |       first_value(o_totalprice) OVER w AS first_price,
        |       last_value(o_totalprice) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |         AS last_price,
        |       nth_value(o_totalprice, 2) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |         AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "p14_array_funcs" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents)
        |SELECT doc_id,
        |       CAST(len(list_distinct(t)) AS INT) AS n_distinct,
        |       CAST(len(list_filter(t, x -> length(x) > 4)) AS INT) AS n_long,
        |       CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum')
        |            AS BIGINT) AS total_chars,
        |       CAST(len(list_distinct(list_intersect(t, ['spark', 'data', 'table'])))
        |            AS INT) AS n_kw,
        |       len(list_filter(t, x -> length(x) > 7)) > 0 AS has_long
        |FROM toks""".stripMargin,
    "a12_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    // ---- round 6b ---------------------------------------------------------
    "feat_standardize" ->
      """WITH st AS (SELECT l_returnflag, avg(l_extendedprice) AS mu,
        |                   stddev_pop(l_extendedprice) AS sigma
        |            FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
        |       round((l.l_extendedprice - st.mu) /
        |             (CASE WHEN st.sigma <> 0 THEN st.sigma END), 6) AS z
        |FROM lineitem l JOIN st USING (l_returnflag)""".stripMargin,
    "feat_robust_scale" ->
      """WITH st AS (SELECT l_returnflag,
        |              quantile_cont(l_extendedprice, 0.5) AS med,
        |              quantile_cont(l_extendedprice, 0.75)
        |                - quantile_cont(l_extendedprice, 0.25) AS iqr
        |            FROM lineitem GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
        |       round((l.l_extendedprice - st.med) /
        |             (CASE WHEN st.iqr <> 0 THEN st.iqr END), 6) AS scaled
        |FROM lineitem l JOIN st USING (l_returnflag)""".stripMargin,
    "ts_interpolate" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_events
        |               FROM events WHERE user_id % 20 = 0 GROUP BY 1, 2),
        |spine AS (SELECT user_id,
        |                 CAST(unnest(generate_series(min(d), max(d),
        |                   INTERVAL 1 DAY)) AS DATE) AS d
        |          FROM daily GROUP BY user_id),
        |j AS (SELECT s.user_id, s.d, daily.n_events
        |      FROM spine s LEFT JOIN daily USING (user_id, d)),
        |f AS (SELECT user_id, d, n_events IS NOT NULL AS is_observed, n_events,
        |        last_value(n_events IGNORE NULLS) OVER wb AS pv,
        |        last_value(CASE WHEN n_events IS NOT NULL THEN d END IGNORE NULLS)
        |          OVER wb AS pd,
        |        first_value(n_events IGNORE NULLS) OVER wf AS nv,
        |        first_value(CASE WHEN n_events IS NOT NULL THEN d END IGNORE NULLS)
        |          OVER wf AS nd
        |      FROM j
        |      WINDOW wb AS (PARTITION BY user_id ORDER BY d
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             wf AS (PARTITION BY user_id ORDER BY d
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, d, is_observed,
        |       CASE WHEN is_observed THEN CAST(n_events AS DOUBLE)
        |            WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
        |            WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
        |            ELSE CAST(((pv * date_diff('day', pd, nd)
        |                        + (nv - pv) * date_diff('day', pd, d)) * 2000000
        |                       + date_diff('day', pd, nd))
        |                      // (2 * date_diff('day', pd, nd)) AS DOUBLE)
        |                 / 1000000.0 END AS n_events
        |FROM f""".stripMargin,
    "stat_mutual_info" ->
      """WITH e AS (SELECT event_type AS x,
        |                  json_extract_string(props, '$.device') AS y
        |           FROM events
        |           WHERE event_type IS NOT NULL
        |             AND json_extract_string(props, '$.device') IS NOT NULL),
        |joint AS (SELECT x, y, count(*) AS nxy FROM e GROUP BY 1, 2),
        |xm AS (SELECT x, sum(nxy) AS nx FROM joint GROUP BY 1),
        |ym AS (SELECT y, sum(nxy) AS ny FROM joint GROUP BY 1),
        |t AS (SELECT sum(nxy) AS n FROM joint)
        |SELECT round(sum((nxy / CAST(n AS DOUBLE)) *
        |         ln((nxy * n) / CAST(nx * ny AS DOUBLE))), 6) AS mutual_info_nats
        |FROM joint JOIN xm USING (x) JOIN ym USING (y) CROSS JOIN t""".stripMargin,
    "stat_chi_square" ->
      """WITH e AS (SELECT event_type AS x,
        |                  json_extract_string(props, '$.device') AS y
        |           FROM events
        |           WHERE event_type IS NOT NULL
        |             AND json_extract_string(props, '$.device') IS NOT NULL),
        |joint AS (SELECT x, y, count(*) AS nxy FROM e GROUP BY 1, 2),
        |xm AS (SELECT x, sum(nxy) AS nx FROM joint GROUP BY 1),
        |ym AS (SELECT y, sum(nxy) AS ny FROM joint GROUP BY 1),
        |t AS (SELECT sum(nxy) AS n FROM joint)
        |SELECT round(sum(CAST(nxy AS DOUBLE) * nxy * n / (nx * CAST(ny AS DOUBLE)))
        |         - any_value(n), 6) AS chi_square,
        |       CAST((count(DISTINCT x) - 1) * (count(DISTINCT y) - 1) AS BIGINT) AS dof
        |FROM joint JOIN xm USING (x) JOIN ym USING (y) CROSS JOIN t""".stripMargin,
    "stat_corr_matrix" ->
      """WITH c AS (SELECT
        |  round(corr(l_quantity, l_extendedprice), 6) AS c0,
        |  round(corr(l_quantity, l_discount), 6) AS c1,
        |  round(corr(l_quantity, l_tax), 6) AS c2,
        |  round(corr(l_extendedprice, l_discount), 6) AS c3,
        |  round(corr(l_extendedprice, l_tax), 6) AS c4,
        |  round(corr(l_discount, l_tax), 6) AS c5
        |  FROM lineitem)
        |SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, c0 AS corr FROM c
        |UNION ALL SELECT 'l_quantity', 'l_discount', c1 FROM c
        |UNION ALL SELECT 'l_quantity', 'l_tax', c2 FROM c
        |UNION ALL SELECT 'l_extendedprice', 'l_discount', c3 FROM c
        |UNION ALL SELECT 'l_extendedprice', 'l_tax', c4 FROM c
        |UNION ALL SELECT 'l_discount', 'l_tax', c5 FROM c""".stripMargin,
    "dedup_keep_best" ->
      // the dedup_components closure, then each cluster's argmax by
      // (n_chars desc, doc_id asc) + member count
      """WITH RECURSIVE toks AS MATERIALIZED (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tokens
        |              FROM documents),
        |sh AS MATERIALIZED (SELECT doc_id, list_transform(generate_series(0, len(tokens)-3), i ->
        |         concat_ws(' ', tokens[i+1], tokens[i+2], tokens[i+3])) AS shingles
        |       FROM toks WHERE len(tokens) >= 3),
        |hb AS MATERIALIZED (SELECT doc_id, list_transform(shingles, s ->
        |         CAST('0x' || substr(md5(s),1,7) AS BIGINT)) AS hs FROM sh),
        |sig AS MATERIALIZED (SELECT doc_id, list_transform(generate_series(1,16), i ->
        |          list_aggregate(list_transform(hs, h -> (h *
        |            ([28515171, 35901835, 164504155, 224835733, 159545229, 129086779,
        |              21665025, 258530763, 97673641, 249307291, 192052219, 93357247,
        |              95312455, 108715649, 24414505, 158868827])[i] +
        |            ([142629328, 83632441, 250955955, 96322194, 250268010, 34277798,
        |              256159453, 123742706, 182912951, 248297849, 222161486, 81337654,
        |              192810783, 177914584, 67363176, 151635781])[i])
        |            % 268435459), 'min')) AS sig
        |        FROM hb),
        |bands AS MATERIALIZED (SELECT doc_id, j,
        |            concat_ws('|', sig[4*j+1], sig[4*j+2], sig[4*j+3], sig[4*j+4]) AS bucket
        |          FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |ok AS MATERIALIZED (SELECT j, bucket FROM bands GROUP BY 1, 2 HAVING count(*) <= 100),
        |pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM bands a
        |          JOIN ok ON ok.j = a.j AND ok.bucket = a.bucket
        |          JOIN bands b
        |            ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS MATERIALIZED (SELECT src AS doc_id, least(src, min(dst)) AS comp
        |         FROM reach GROUP BY src),
        |r AS (SELECT c.comp, d.doc_id, d.n_chars,
        |        row_number() OVER (PARTITION BY c.comp
        |          ORDER BY d.n_chars DESC, d.doc_id) AS rn,
        |        count(*) OVER (PARTITION BY c.comp) AS n_members
        |      FROM comp c JOIN documents d USING (doc_id))
        |SELECT comp, doc_id AS keep_doc, n_chars,
        |       CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rn = 1""".stripMargin,
    "dedup_containment" ->
      """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text),'\s+') AS tokens
        |           FROM documents),
        |g AS (SELECT doc_id, lang, tokens[1] AS tok0,
        |        list_distinct(list_transform(generate_series(0, len(tokens)-2), i ->
        |          concat_ws(' ', tokens[i+1], tokens[i+2]))) AS grams
        |      FROM t WHERE len(tokens) >= 2),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS isect,
        |        len(a.grams) AS na, len(b.grams) AS nb
        |      FROM g a JOIN g b
        |        ON a.lang = b.lang AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       CAST((isect * 2000000 + na) // (2 * na) AS DOUBLE) / 1000000.0
        |         AS containment_a,
        |       CAST((isect * 2000000 + nb) // (2 * nb) AS DOUBLE) / 1000000.0
        |         AS containment_b
        |FROM p
        |WHERE CAST((isect * 2000000 + na) // (2 * na) AS DOUBLE) / 1000000.0 >= 0.5
        |   OR CAST((isect * 2000000 + nb) // (2 * nb) AS DOUBLE) / 1000000.0 >= 0.5""".stripMargin,
    "curate_token_budget" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS toks
        |           FROM documents),
        |q AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        |        round(least(1.0, len(toks)/50.0)*0.4
        |          + (len(list_filter(toks, w -> list_contains(
        |              ['the','a','and','of','to','in','is','that'], w)))
        |             / CAST(len(toks) AS DOUBLE))*0.3
        |          + (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))*0.3, 6)
        |          AS quality
        |      FROM t),
        |c AS (SELECT doc_id, n_tokens, quality,
        |        CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS cum_tokens
        |      FROM q)
        |SELECT doc_id, n_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens <= 20000""".stripMargin,
    "mix_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |             sum(pow(n_docs, 0.5)) AS z FROM c)
        |SELECT source, n_docs,
        |       CAST((n_docs * 2000000 + n_total) // (2 * n_total) AS DOUBLE)
        |         / 1000000.0 AS raw_share,
        |       round(pow(n_docs, 0.5) / z, 6) AS tempered_share,
        |       round(pow(n_docs, 0.5) / z / (n_docs / n_total), 6) AS sample_factor
        |FROM c CROSS JOIN t""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 \t\n]', ' ', 'g'), '[ \t\n]+', ' ', 'g')) AS norm_text,
        |       md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 \t\n]', ' ', 'g'), '[ \t\n]+', ' ', 'g'))) AS norm_key
        |FROM documents""".stripMargin,
    "vocab_top_p" ->
      """WITH v AS (SELECT unnest(regexp_split_to_array(trim(text),'\s+')) AS token
        |           FROM documents),
        |c AS (SELECT token, count(*) AS n FROM v GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |r AS (SELECT token, n, total,
        |        CAST(sum(n) OVER w AS BIGINT) AS cum
        |      FROM c CROSS JOIN t
        |      WINDOW w AS (ORDER BY n DESC, token
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT token, n,
        |       CAST((cum * 2000000 + total) // (2 * total) AS DOUBLE) / 1000000.0
        |         AS cum_mass
        |FROM r WHERE (cum - n) / total < 0.5""".stripMargin,
    "events_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |           WHERE user_id IS NOT NULL),
        |c AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
        |SELECT c.cohort, CAST(date_diff('day', c.cohort, e.d) AS INT) AS offset_days,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |WHERE date_diff('day', c.cohort, e.d) <= 7
        |GROUP BY 1, 2""".stripMargin,
    "events_paths" ->
      """WITH s AS (SELECT user_id, event_type,
        |             lead(event_type, 1) OVER w AS e2,
        |             lead(event_type, 2) OVER w AS e3
        |           FROM events WHERE user_id IS NOT NULL
        |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type AS step1, e2 AS step2, e3 AS step3, count(*) AS n
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3
        |LIMIT 20""".stripMargin,
    "j12_salted_join" ->
      // the salt is invisible in the result: oracle is the PLAIN join
      """SELECT e.event_id, e.event_type,
        |       CAST(length(e.event_type) AS INT) AS type_len
        |FROM events e WHERE e.event_type IS NOT NULL""".stripMargin,
    "sketch_cms_heavy" ->
      """WITH k AS (SELECT user_id AS key FROM events WHERE user_id IS NOT NULL),
        |rows_ AS (SELECT key, j,
        |            CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
        |              CAST(key AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS bucket
        |          FROM k CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj),
        |sk AS (SELECT j, bucket, count(*) AS cnt FROM rows_ GROUP BY 1, 2),
        |probes AS (SELECT key, count(*) AS exact_cnt FROM k GROUP BY 1
        |           ORDER BY exact_cnt DESC, key LIMIT 20),
        |pb AS (SELECT p.key, p.exact_cnt, j,
        |         CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
        |           CAST(p.key AS VARCHAR)), 1, 8) AS BIGINT) % 256 AS bucket
        |       FROM probes p CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) jj)
        |SELECT pb.key, pb.exact_cnt, min(sk.cnt) AS est_cnt
        |FROM pb JOIN sk USING (j, bucket)
        |GROUP BY 1, 2""".stripMargin,
    "sketch_mg_heavy" -> // the sketch is a candidate filter with a
      // no-false-negative guarantee; the published rows are the EXACT
      // heavy hitters above N/(k+1), k = 64 — hence the plain oracle
      """WITH t AS (SELECT CASE WHEN l_orderkey % 4 < 3
        |                       THEN l_partkey % 32
        |                       ELSE l_partkey + 1000000 END AS key
        |           FROM lineitem),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
        |SELECT key, CAST(count(*) AS BIGINT) AS exact_cnt,
        |       (SELECT n_total FROM tot) AS n_total
        |FROM t GROUP BY key
        |HAVING count(*) * 65 > (SELECT n_total FROM tot)""".stripMargin,
    "sketch_mg_grouped" -> // per-group cutoff: cnt·(k+1) > the GROUP's
      // total, k = 64 — candidates guaranteed per group, read-out exact
      """WITH t AS (SELECT l_returnflag AS grp,
        |                  CASE WHEN l_orderkey % 4 < 3
        |                       THEN l_partkey % 32
        |                       ELSE l_partkey + 1000000 END AS key
        |           FROM lineitem),
        |tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_total
        |        FROM t GROUP BY grp)
        |SELECT t.grp, t.key, CAST(count(*) AS BIGINT) AS exact_cnt,
        |       min(tot.n_total) AS n_total
        |FROM t JOIN tot USING (grp)
        |GROUP BY t.grp, t.key
        |HAVING count(*) * 65 > min(tot.n_total)""".stripMargin,
    "incr_mg_maintain" -> // maintained candidates, exact output: the
      // oracle is the FULL recompute — identical result to
      // sketch_mg_heavy by design (the maintenance path must converge
      // to the recompute, the incr_agg_merge discipline)
      """WITH t AS (SELECT CASE WHEN l_orderkey % 4 < 3
        |                       THEN l_partkey % 32
        |                       ELSE l_partkey + 1000000 END AS key
        |           FROM lineitem),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t)
        |SELECT key, CAST(count(*) AS BIGINT) AS exact_cnt,
        |       (SELECT n_total FROM tot) AS n_total
        |FROM t GROUP BY key
        |HAVING count(*) * 65 > (SELECT n_total FROM tot)""".stripMargin,
    "dedup_semantic" ->
      // the dedup_embedding pair pipeline, closed transitively, min-id kept
      """WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |cc AS (SELECT CAST(coalesce(min(p), 65536) AS INT) AS c FROM
        |         (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |                         8192, 16384, 32768, 65536]) AS p), nn
        |       WHERE CAST(p AS BIGINT) * p >= n),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm
        |      FROM n, cc WHERE vec_id < cc.c),
        |asg AS (SELECT vec_id, vec, nrm, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |      FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |      WHERE round(list_aggregate(list_transform(generate_series(1, len(a.vec)),
        |          i -> a.vec[i]*b.vec[i]), 'sum') / (a.nrm*b.nrm), 6) > 0.35),
        |edges AS (SELECT vec_a AS src, vec_b AS dst FROM p
        |          UNION SELECT vec_b, vec_a FROM p),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS vec_id, least(src, min(dst)) AS comp,
        |       src = least(src, min(dst)) AS is_kept
        |FROM reach GROUP BY src""".stripMargin,
    "retrieval_rank_fusion" ->
      // text_bm25's pool (widened to 50) fused with the quality-prior
      // pool via RRF (k=60), ranks from each pool's own ordering
      """WITH terms AS (SELECT doc_id,
        |                      unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |               FROM documents),
        |tfall AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tfall GROUP BY 1),
        |stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
        |qtf AS (SELECT * FROM tfall WHERE token IN ('spark', 'window', 'merge')),
        |dfq AS (SELECT token, count(*) AS df FROM qtf GROUP BY 1),
        |lexpool AS (SELECT doc_id,
        |         round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |                   * tf * 2.2 / (tf + 1.2 * (0.75 * dl / avgdl + 0.25))), 6)
        |           AS bm25
        |       FROM qtf JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN stats
        |       GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id, CAST(row_number() OVER
        |          (ORDER BY bm25 DESC, doc_id) AS INT) AS r_lex FROM lexpool),
        |toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |         FROM documents),
        |qv AS (SELECT doc_id,
        |         round(least(1.0, len(t)/50.0)*0.4
        |           + (len(list_filter(t, w -> list_contains(
        |               ['the','a','and','of','to','in','is','that'], w)))
        |              / CAST(len(t) AS DOUBLE))*0.3
        |           + (len(list_distinct(t)) / CAST(len(t) AS DOUBLE))*0.3, 6) AS q
        |       FROM toks),
        |qualpool AS (SELECT doc_id, q FROM qv ORDER BY q DESC, doc_id LIMIT 50),
        |qual AS (SELECT doc_id, CAST(row_number() OVER
        |           (ORDER BY q DESC, doc_id) AS INT) AS r_qual FROM qualpool),
        |f AS (SELECT coalesce(lex.doc_id, qual.doc_id) AS doc_id, r_lex, r_qual,
        |        CASE WHEN r_lex IS NULL OR r_qual IS NULL THEN 1
        |             ELSE (60 + r_lex) + (60 + r_qual) END AS num,
        |        CASE WHEN r_lex IS NULL THEN 60 + r_qual
        |             WHEN r_qual IS NULL THEN 60 + r_lex
        |             ELSE (60 + r_lex) * (60 + r_qual) END AS den
        |      FROM lex FULL OUTER JOIN qual ON lex.doc_id = qual.doc_id),
        |fr AS (SELECT doc_id, r_lex, r_qual,
        |         CAST((num * 2000000 + den) // (2 * den) AS DOUBLE) / 1000000.0
        |           AS rrf
        |       FROM f)
        |SELECT doc_id, r_lex, r_qual, rrf FROM fr
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "retrieval_stopwords" ->
      """WITH terms AS (SELECT DISTINCT doc_id,
        |                 unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |               FROM documents),
        |d AS (SELECT token, count(*) AS df FROM terms GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT token, df,
        |       CAST((df * 2000000 + n_docs) // (2 * n_docs) AS DOUBLE) / 1000000.0
        |         AS df_ratio
        |FROM d CROSS JOIN n WHERE df / n_docs >= 0.4""".stripMargin,
    "retrieval_phrase_search" -> // adjacent pairs straight off the token
      // arrays (arr[i], arr[i+1]) — first-principles certification of the
      // positional-index self-join path; identical whitespace tokenization
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
        |                    AS arr
        |           FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(arr) - 1)) AS i,
        |             arr
        |      FROM d),
        |bg AS (SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2 FROM p)
        |SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM bg GROUP BY 1, 2
        |ORDER BY n_occurrences DESC, n_docs DESC, w1, w2
        |LIMIT 3""".stripMargin,
    "retrieval_proximity" -> // same index join off 1-based array
      // positions (gaps are offset-invariant), same tie chain
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
        |                    AS arr
        |           FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(arr))) AS i,
        |             arr
        |      FROM d),
        |idx AS (SELECT doc_id, arr[i] AS token, CAST(i AS BIGINT) AS pos
        |        FROM p),
        |a AS (SELECT doc_id, pos FROM idx WHERE token = 'scan'),
        |b AS (SELECT doc_id, pos FROM idx WHERE token = 'join'),
        |g AS (SELECT a.doc_id,
        |        CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_gap,
        |        CAST(count(DISTINCT a.pos) AS BIGINT) AS n_a,
        |        CAST(count(DISTINCT b.pos) AS BIGINT) AS n_b
        |      FROM a JOIN b ON b.doc_id = a.doc_id GROUP BY 1)
        |SELECT doc_id, min_gap, n_a, n_b FROM g
        |ORDER BY min_gap, doc_id LIMIT 20""".stripMargin,
    "retrieval_range_search" ->
      // dedup_embedding's IVF cell CTE, queried by radius instead of pairs
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm FROM n WHERE vec_id < 16),
        |asg AS (SELECT vec_id, vec, nrm, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm, cell
        |      FROM cell WHERE vec_id % 50 = 0)
        |SELECT q.query_id, c.vec_id AS neighbor_id,
        |       round(list_aggregate(list_transform(generate_series(1, len(c.vec)),
        |         i -> q.qvec[i]*c.vec[i]), 'sum') / (q.qnorm*c.nrm), 6) AS cos_sim
        |FROM cell c JOIN q USING (cell)
        |WHERE c.vec_id <> q.query_id
        |  AND round(list_aggregate(list_transform(generate_series(1, len(c.vec)),
        |        i -> q.qvec[i]*c.vec[i]), 'sum') / (q.qnorm*c.nrm), 6) >= 0.3""".stripMargin,
    "retrieval_inverted_index" ->
      """WITH terms AS (SELECT doc_id,
        |                 unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |               FROM documents),
        |tf AS (SELECT token, doc_id, count(*) AS tf FROM terms GROUP BY 1, 2),
        |kept AS (SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
        |         FROM tf GROUP BY 1 HAVING count(*) <= 500)
        |SELECT token, df, total_tf,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings,
        |       string_agg(CAST(tf AS VARCHAR), ',' ORDER BY doc_id) AS tfs
        |FROM tf JOIN kept USING (token)
        |GROUP BY token, df, total_tf""".stripMargin,
    "sim_knn_classify" ->
      // sim_topk_brute's CTE, then label vote (votes desc, label asc) and
      // compare against the query's own label
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm FROM n
        |      WHERE vec_id % 50 = 0),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |          i -> qvec[i]*vec[i]), 'sum') / (qnorm*nrm), 6) AS cos_sim
        |      FROM n CROSS JOIN q WHERE vec_id <> query_id),
        |tk AS (SELECT query_id, neighbor_id
        |       FROM (SELECT *, row_number() OVER (
        |               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        |             FROM s)
        |       WHERE rn <= 5),
        |lv AS (SELECT t.query_id, e.label, count(*) AS votes
        |       FROM tk t JOIN embeddings e ON e.vec_id = t.neighbor_id
        |       GROUP BY 1, 2),
        |w AS (SELECT query_id, label AS pred_label, votes,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY votes DESC, label) AS rw FROM lv)
        |SELECT w.query_id, e.label AS true_label, w.pred_label, w.votes,
        |       e.label = w.pred_label AS correct
        |FROM w JOIN embeddings e ON e.vec_id = w.query_id
        |WHERE w.rw = 1""".stripMargin,
    "stat_ols" ->
      """SELECT l_returnflag AS grp, count(*) AS n,
        |       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |       round(pow(corr(l_extendedprice, l_quantity), 2), 6) AS r2
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "stat_ab_delta" ->
      // user-level sums -> per-variant moments -> delta-method ratio
      // variance; variant = md5 bucket parity (split_assign's scheme)
      """WITH u AS (SELECT user_id, sum(value) AS x,
        |             CAST(count(*) AS DOUBLE) AS y,
        |             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |               AS BIGINT) % 2 AS variant
        |           FROM events
        |           WHERE user_id IS NOT NULL AND value IS NOT NULL
        |           GROUP BY user_id),
        |v AS (SELECT variant, count(*) AS n_users, avg(x) AS mx, avg(y) AS my,
        |        var_samp(x) AS vx, var_samp(y) AS vy, covar_samp(x, y) AS cxy
        |      FROM u GROUP BY 1),
        |r AS (SELECT variant, n_users, mx / my AS ratio,
        |        (vx / (my*my) - 2*mx*cxy / pow(my, 3)
        |          + mx*mx*vy / pow(my, 4)) / n_users AS var_r
        |      FROM v)
        |SELECT round(max(CASE WHEN variant = 0 THEN ratio END), 6) AS ratio_a,
        |       round(max(CASE WHEN variant = 1 THEN ratio END), 6) AS ratio_b,
        |       round(max(CASE WHEN variant = 1 THEN ratio END)
        |           - max(CASE WHEN variant = 0 THEN ratio END), 6) AS diff,
        |       round((max(CASE WHEN variant = 1 THEN ratio END)
        |            - max(CASE WHEN variant = 0 THEN ratio END))
        |         / sqrt(max(CASE WHEN variant = 0 THEN var_r END)
        |              + max(CASE WHEN variant = 1 THEN var_r END)), 6) AS z_score,
        |       CAST(sum(n_users) AS BIGINT) AS n_users
        |FROM r""".stripMargin,
    "feat_target_encode" ->
      """WITH c AS (SELECT event_type AS category, count(*) AS n, sum(value) AS s
        |           FROM events
        |           WHERE event_type IS NOT NULL AND value IS NOT NULL
        |           GROUP BY 1),
        |g AS (SELECT sum(s) / sum(n) AS prior FROM c)
        |SELECT category, n, round(s / n, 6) AS raw_mean,
        |       round((s + 20.0 * prior) / (n + 20.0), 6) AS encoded
        |FROM c CROSS JOIN g""".stripMargin,
    "feat_target_encode_cv" -> // out-of-fold numbers as subtractions
      // from the same (category, fold) cells; single-fold categories
      // dropped on both sides (no out-of-fold signal)
      """WITH b AS (SELECT event_type AS category,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4)
        |         AS BIGINT) % 5 AS fold,
        |    value
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL),
        |cf AS (SELECT category, fold, count(*) AS n_f, sum(value) AS s_f
        |       FROM b GROUP BY 1, 2),
        |c AS (SELECT category, sum(n_f) AS n, sum(s_f) AS s
        |      FROM cf GROUP BY 1),
        |f AS (SELECT fold, sum(n_f) AS nf_tot, sum(s_f) AS sf_tot
        |      FROM cf GROUP BY 1),
        |g AS (SELECT sum(n_f) AS big_n, sum(s_f) AS big_s FROM cf)
        |SELECT category, fold, CAST(c.n - cf.n_f AS BIGINT) AS n_oof,
        |  round((c.s - cf.s_f) / (c.n - cf.n_f), 6) AS raw_oof,
        |  round(((c.s - cf.s_f)
        |         + 20.0 * ((big_s - sf_tot) / (big_n - nf_tot)))
        |        / ((c.n - cf.n_f) + 20.0), 6) AS encoded
        |FROM cf JOIN c USING (category) JOIN f USING (fold) CROSS JOIN g
        |WHERE c.n > cf.n_f""".stripMargin,
    "curate_curriculum" ->
      // per-source quality rank + round-robin interleave arithmetic; the
      // oracle uses the plain per-source window the Spark side avoids
      """WITH t AS (SELECT doc_id, source,
        |             regexp_split_to_array(trim(text), '\s+') AS tk
        |           FROM documents),
        |q AS (SELECT doc_id, source,
        |        round(least(1.0, len(tk)/50.0)*0.4
        |          + (len(list_filter(tk, w -> list_contains(
        |              ['the','a','and','of','to','in','is','that'], w)))
        |             / CAST(len(tk) AS DOUBLE))*0.3
        |          + (len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE))*0.3, 6)
        |          AS q
        |      FROM t),
        |r AS (SELECT doc_id, source,
        |        CAST(row_number() OVER (PARTITION BY source
        |               ORDER BY q DESC, doc_id) AS BIGINT) AS rank_in_source
        |      FROM q),
        |s AS (SELECT source,
        |        CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx,
        |        CAST(count(*) OVER () AS BIGINT) AS n_sources
        |      FROM (SELECT DISTINCT source FROM documents))
        |SELECT r.doc_id, r.source, r.rank_in_source,
        |       (r.rank_in_source - 1) * s.n_sources + s.src_idx AS global_pos
        |FROM r JOIN s USING (source)""".stripMargin,
    "text_negative_samples" ->
      // identical integer CDF; the lookup is a direct BETWEEN join (the
      // Spark side's bin hashing is plan-only, invisible in the result)
      """WITH c AS (SELECT token, count(*) AS cnt
        |           FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |                   AS token FROM documents)
        |           GROUP BY 1),
        |m AS (SELECT token, cnt,
        |        CAST(round(pow(cnt, 0.75) * 1e6, 0) AS BIGINT) AS w FROM c),
        |i AS (SELECT token, cnt,
        |        CAST(sum(w) OVER (ORDER BY token ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS cum_hi,
        |        CAST(sum(w) OVER (ORDER BY token ROWS BETWEEN UNBOUNDED
        |          PRECEDING AND CURRENT ROW) - w AS BIGINT) AS cum_lo
        |      FROM m),
        |t AS (SELECT max(cum_hi) + 1 AS total FROM i),
        |d AS (SELECT s.i AS draw_id,
        |        CAST(CAST('0x' || substr(md5(CAST(s.i AS VARCHAR)), 1, 15)
        |          AS BIGINT) % (SELECT total FROM t) AS BIGINT) AS u
        |      FROM generate_series(0, 99) s(i))
        |SELECT d.draw_id, d.u, i.token, i.cnt
        |FROM d JOIN i ON d.u BETWEEN i.cum_lo AND i.cum_hi""".stripMargin,
    "feat_woe_binning" ->
      """WITH d AS (SELECT value,
        |             event_type = 'purchase' AS is_purchase
        |           FROM events
        |           WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (SELECT quantile_cont(value,
        |               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM d),
        |binned AS (SELECT is_purchase,
        |             CAST(len(list_filter(bs, x -> x < value)) AS BIGINT) AS bin
        |           FROM d CROSS JOIN b),
        |cells AS (SELECT bin,
        |            sum(CASE WHEN is_purchase THEN 1 ELSE 0 END) AS n_pos,
        |            sum(CASE WHEN is_purchase THEN 0 ELSE 1 END) AS n_neg
        |          FROM binned GROUP BY 1),
        |tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM cells)
        |SELECT bin, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |       round(ln(((n_pos + 0.5) / (tp + 0.5)) /
        |                ((n_neg + 0.5) / (tn + 0.5))), 6) AS woe
        |FROM cells CROSS JOIN tot""".stripMargin,
    "events_markov" ->
      """WITH p AS (SELECT event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS to_type
        |           FROM events WHERE user_id IS NOT NULL),
        |cells AS (SELECT from_type, to_type, count(*) AS n FROM p
        |          WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT from_type, sum(n) AS n_from FROM cells GROUP BY 1),
        |kk AS (SELECT count(DISTINCT to_type) AS k FROM cells)
        |SELECT c.from_type, c.to_type, c.n,
        |       CAST(((c.n + 1) * 2000000 + (t.n_from + k.k))
        |            // (2 * (t.n_from + k.k)) AS DOUBLE) / 1000000.0 AS p
        |FROM cells c JOIN tt t USING (from_type) CROSS JOIN kk k""".stripMargin,
    "sim_recall_report" ->
      // brute and IVF CTEs (both verbatim from their own oracles), then
      // the per-query intersection count over the two top-3 tails
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |           FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |qb AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm FROM n
        |       WHERE vec_id % 50 = 0),
        |sb AS (SELECT query_id, vec_id AS neighbor_id,
        |         round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |           i -> qvec[i]*vec[i]), 'sum') / (qnorm*nrm), 6) AS cos_sim
        |       FROM n CROSS JOIN qb WHERE vec_id <> query_id),
        |exact AS (SELECT query_id, neighbor_id
        |          FROM (SELECT *, row_number() OVER (
        |                  PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        |                FROM sb)
        |          WHERE rn <= 3),
        |c AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cnorm FROM n WHERE vec_id < 16),
        |asg AS (SELECT vec_id, vec, nrm, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(vec)),
        |            i -> vec[i]*cvec[i]), 'sum') / (nrm*cnorm), 6) AS c_cos
        |        FROM n CROSS JOIN c),
        |cell AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |qi AS (SELECT vec_id AS query_id, vec AS qvec, nrm AS qnorm, cell FROM cell
        |       WHERE vec_id % 50 = 0),
        |si AS (SELECT query_id, m.vec_id AS neighbor_id,
        |         round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |           i -> qvec[i]*m.vec[i]), 'sum') / (qnorm*m.nrm), 6) AS cos_sim
        |       FROM cell m JOIN qi USING (cell) WHERE m.vec_id <> qi.query_id),
        |approx AS (SELECT query_id, neighbor_id
        |           FROM (SELECT *, row_number() OVER (
        |                   PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
        |                 FROM si)
        |           WHERE rn <= 3),
        |h AS (SELECT e.query_id, count(*) AS hits
        |      FROM exact e JOIN approx a
        |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        |      GROUP BY 1),
        |ne AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1)
        |SELECT ne.query_id, coalesce(h.hits, 0) AS hits,
        |       CAST((coalesce(h.hits, 0) * 2000000 + ne.n_exact)
        |            // (2 * ne.n_exact) AS DOUBLE) / 1000000.0 AS recall
        |FROM ne LEFT JOIN h USING (query_id)""".stripMargin,
    "sim_recall_report_mips" -> // exact-MIPS and MIPS-IVF CTEs (both
      // verbatim from their own certified oracles), then the per-query
      // intersection over the two top-5 tails
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |cc AS (SELECT CAST(coalesce(min(p), 65536) AS INT) AS c FROM
        |         (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
        |                         8192, 16384, 32768, 65536]) AS p), nn
        |       WHERE CAST(p AS BIGINT) * p >= n),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |      FROM embeddings),
        |n AS (SELECT vec_id, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum')) AS nrm FROM v),
        |qb AS (SELECT vec_id AS query_id, vec AS qvec FROM n
        |       WHERE vec_id % 50 = 0),
        |sb AS (SELECT query_id, vec_id AS neighbor_id,
        |         round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |           i -> qvec[i]*vec[i]), 'sum'), 6) AS ip
        |       FROM n CROSS JOIN qb WHERE vec_id <> query_id),
        |exact AS (SELECT query_id, neighbor_id
        |          FROM (SELECT *, row_number() OVER (
        |                  PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rn
        |                FROM sb)
        |          WHERE rn <= 5),
        |m AS (SELECT max(nrm) AS mx FROM n),
        |a AS (SELECT vec_id, vec,
        |        list_append(vec, sqrt(mx*mx - nrm*nrm)) AS avec, mx
        |      FROM n CROSS JOIN m),
        |c AS (SELECT vec_id AS cent_id, avec AS cvec
        |      FROM a, cc WHERE vec_id < cc.c),
        |asg AS (SELECT a.vec_id, a.vec, cent_id,
        |          round(list_aggregate(list_transform(generate_series(1, len(avec)),
        |            i -> avec[i]*cvec[i]), 'sum') / (mx*mx), 6) AS c_cos
        |        FROM a CROSS JOIN c),
        |cell AS (SELECT vec_id, vec, cent_id AS cell FROM
        |          (SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM asg)
        |         WHERE rn = 1),
        |qa AS (SELECT vec_id, vec AS qvec, nrm,
        |         list_append(vec, CAST(0.0 AS DOUBLE)) AS qavec
        |       FROM n WHERE vec_id % 50 = 0),
        |qasg AS (SELECT qa.vec_id, qa.qvec, cent_id,
        |           round(list_aggregate(list_transform(generate_series(1, len(qavec)),
        |             i -> qavec[i]*cvec[i]), 'sum') / (nrm*mx), 6) AS c_cos
        |         FROM qa CROSS JOIN c CROSS JOIN m),
        |qp AS (SELECT vec_id AS query_id, qvec, cent_id AS cell FROM
        |         (SELECT *, row_number() OVER (
        |            PARTITION BY vec_id ORDER BY c_cos DESC, cent_id) AS rn FROM qasg)
        |       WHERE rn <= 4),
        |si AS (SELECT query_id, mm.vec_id AS neighbor_id,
        |         round(list_aggregate(list_transform(generate_series(1, len(qvec)),
        |           i -> qvec[i]*mm.vec[i]), 'sum'), 6) AS ip
        |       FROM cell mm JOIN qp USING (cell) WHERE mm.vec_id <> qp.query_id),
        |approx AS (SELECT query_id, neighbor_id
        |           FROM (SELECT *, row_number() OVER (
        |                   PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rn
        |                 FROM si)
        |           WHERE rn <= 5),
        |h AS (SELECT e.query_id, count(*) AS hits
        |      FROM exact e JOIN approx ap
        |        ON e.query_id = ap.query_id AND e.neighbor_id = ap.neighbor_id
        |      GROUP BY 1),
        |ne AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1)
        |SELECT ne.query_id, coalesce(h.hits, 0) AS hits,
        |       CAST((coalesce(h.hits, 0) * 2000000 + ne.n_exact)
        |            // (2 * ne.n_exact) AS DOUBLE) / 1000000.0 AS recall
        |FROM ne LEFT JOIN h USING (query_id)""".stripMargin,
    "feat_cdf_table" ->
      """WITH c AS (SELECT l_returnflag AS grp, l_quantity AS value,
        |             count(*) AS n_at
        |           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT grp, CAST(sum(n_at) AS BIGINT) AS n_grp FROM c GROUP BY 1)
        |SELECT c.grp, c.value, c.n_at,
        |       CAST(sum(n_at) OVER (PARTITION BY c.grp ORDER BY c.value
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        |       CAST((CAST(sum(n_at) OVER (PARTITION BY c.grp ORDER BY c.value
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |             * 2000000 + t.n_grp) // (2 * t.n_grp) AS DOUBLE) / 1000000.0
        |         AS cdf
        |FROM c JOIN t USING (grp)""".stripMargin,
    "text_keywords" ->
      // text_tfidf's CTE, ranked per doc on the ROUNDED score
      """WITH terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text),'\s+')) AS token
        |               FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.token,
        |         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tf_idf
        |       FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tf_idf, CAST(rn AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY tf_idf DESC, token) AS rn FROM sc)
        |WHERE rn <= 3""".stripMargin,
    "events_rfm" ->
      """WITH u AS (SELECT user_id, max(ts) AS last_ts, count(*) AS f,
        |             round(sum(value), 6) AS m
        |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ref AS (SELECT max(last_ts) AS ref_ts FROM u),
        |base AS (SELECT user_id,
        |           CAST(datediff('day', CAST(last_ts AS DATE),
        |             CAST(ref_ts AS DATE)) AS DOUBLE) AS r_days,
        |           CAST(f AS DOUBLE) AS f, m
        |         FROM u CROSS JOIN ref),
        |b AS (SELECT quantile_cont(r_days, [0.25, 0.5, 0.75]) AS rb,
        |             quantile_cont(f, [0.25, 0.5, 0.75]) AS fb,
        |             quantile_cont(m, [0.25, 0.5, 0.75]) AS mb FROM base)
        |SELECT user_id, CAST(r_days AS BIGINT) AS r_days,
        |       CAST(f AS BIGINT) AS f, m,
        |       4 - len(list_filter(rb, x -> x < r_days)) AS r_score,
        |       1 + len(list_filter(fb, x -> x < f)) AS f_score,
        |       1 + len(list_filter(mb, x -> x < m)) AS m_score,
        |       CAST(4 - len(list_filter(rb, x -> x < r_days)) AS VARCHAR)
        |         || CAST(1 + len(list_filter(fb, x -> x < f)) AS VARCHAR)
        |         || CAST(1 + len(list_filter(mb, x -> x < m)) AS VARCHAR)
        |         AS segment
        |FROM base CROSS JOIN b""".stripMargin,
    "stat_bootstrap_diff" -> // same Poisson weights; arms via the md5 user
      // split; conditional sums, exact-ratio means, engine-exact diff
      s"""WITH reps AS (
        |  SELECT b.b, CAST(round(e.value * 100) AS BIGINT) AS cents,
        |    CAST('0x' || substr(md5(CAST(e.user_id AS VARCHAR)),1,4)
        |      AS BIGINT) % 2 AS arm,
        |    (CAST(CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
        |       || '|' || CAST(b.b AS VARCHAR)), 1, 12) AS BIGINT)
        |       AS DOUBLE) + 0.5) / 281474976710656.0 AS u
        |  FROM events e CROSS JOIN (SELECT unnest(range(100)) AS b) b),
        |w AS (SELECT b, arm, cents,
        |        len(list_filter(${graft.ops.Stats.poissonBoundarySql},
        |          c -> c < u)) AS w
        |      FROM reps),
        |g AS (SELECT b,
        |        CAST(sum(CASE WHEN arm = 0 THEN w ELSE 0 END) AS BIGINT) AS n_c,
        |        CAST(sum(CASE WHEN arm = 0 THEN w * cents ELSE 0 END)
        |          AS BIGINT) AS s_c,
        |        CAST(sum(CASE WHEN arm = 1 THEN w ELSE 0 END) AS BIGINT) AS n_t,
        |        CAST(sum(CASE WHEN arm = 1 THEN w * cents ELSE 0 END)
        |          AS BIGINT) AS s_t
        |      FROM w GROUP BY 1)
        |SELECT CAST(b AS BIGINT) AS b, n_c, n_t,
        |  CAST((s_c * 2000000 + n_c * 100) // (2 * n_c * 100) AS DOUBLE)
        |    / 1000000.0 AS mean_c,
        |  CAST((s_t * 2000000 + n_t * 100) // (2 * n_t * 100) AS DOUBLE)
        |    / 1000000.0 AS mean_t,
        |  CAST((s_t * 2000000 + n_t * 100) // (2 * n_t * 100) AS DOUBLE)
        |    / 1000000.0
        |  - CAST((s_c * 2000000 + n_c * 100) // (2 * n_c * 100) AS DOUBLE)
        |    / 1000000.0 AS diff
        |FROM g""".stripMargin,
    "stat_bootstrap" -> // Poisson(1) weights from the md5 uniform vs the
      // Scala-rendered CDF boundary list (dp_count_release discipline);
      // integer cent sums; mean via the shared half-up exact ratio
      s"""WITH reps AS (
        |  SELECT b.b, CAST(round(e.value * 100) AS BIGINT) AS cents,
        |    (CAST(CAST('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
        |       || '|' || CAST(b.b AS VARCHAR)), 1, 12) AS BIGINT)
        |       AS DOUBLE) + 0.5) / 281474976710656.0 AS u
        |  FROM events e CROSS JOIN (SELECT unnest(range(100)) AS b) b),
        |w AS (SELECT b, cents,
        |        len(list_filter(${graft.ops.Stats.poissonBoundarySql},
        |          c -> c < u)) AS w
        |      FROM reps),
        |g AS (SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
        |        CAST(sum(w * cents) AS BIGINT) AS wsum_cents
        |      FROM w GROUP BY 1)
        |SELECT CAST(b AS BIGINT) AS b, n_eff,
        |  CAST((wsum_cents * 2000000 + n_eff * 100)
        |       // (2 * n_eff * 100) AS DOUBLE) / 1000000.0 AS boot_mean
        |FROM g""".stripMargin,
    "stat_jackknife" ->
      """WITH r AS (SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
        |             CAST(l_linenumber AS VARCHAR) AS rid,
        |             l_extendedprice AS v
        |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |blocks AS (SELECT CAST('0x' || substr(md5(rid), 1, 8) AS BIGINT) % 20
        |             AS blk, sum(v) AS s, count(*) AS n
        |           FROM r GROUP BY 1),
        |tot AS (SELECT sum(s) AS st, CAST(sum(n) AS BIGINT) AS nt,
        |          count(*) AS b FROM blocks),
        |th AS (SELECT (st - s) / (nt - n) AS theta, st, nt, b
        |       FROM blocks CROSS JOIN tot)
        |SELECT round(max(st) / max(nt), 6) AS mean,
        |       round(sqrt((max(b) - 1) * var_pop(theta)), 6) AS se_jackknife,
        |       CAST(max(b) AS BIGINT) AS n_blocks, max(nt) AS n_rows
        |FROM th""".stripMargin,
    "stat_power" ->
      """WITH u AS (SELECT user_id, sum(value) AS x,
        |             CAST(count(*) AS DOUBLE) AS y
        |           FROM events
        |           WHERE user_id IS NOT NULL AND value IS NOT NULL
        |           GROUP BY 1),
        |m AS (SELECT count(*) AS n_users, avg(x) AS mx, avg(y) AS my,
        |        var_samp(x) AS vx, var_samp(y) AS vy, covar_samp(x, y) AS cxy
        |      FROM u),
        |d AS (SELECT n_users, mx / my AS ratio,
        |        vx / (my*my) - 2*mx*cxy / pow(my, 3)
        |          + mx*mx*vy / pow(my, 4) AS sigma2
        |      FROM m)
        |SELECT round(ratio, 6) AS ratio,
        |       round(sqrt(sigma2), 6) AS sigma_user,
        |       round(ratio * 0.02, 6) AS mde_abs,
        |       CAST(ceil(pow(1.959964 + 0.841621, 2) * 2.0 * sigma2
        |         / pow(ratio * 0.02, 2)) AS BIGINT) AS n_per_arm,
        |       n_users
        |FROM d""".stripMargin,
    "events_stickiness" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |            FROM events WHERE user_id IS NOT NULL),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |cw AS (SELECT DISTINCT user_id, CAST(w AS DATE) AS wday
        |       FROM du, unnest(generate_series(day, day + INTERVAL 6 DAY,
        |         INTERVAL 1 DAY)) t(w)),
        |wau AS (SELECT wday, count(*) AS wau FROM cw GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |       CAST((dau.dau * 2000000 + wau.wau) // (2 * wau.wau) AS DOUBLE)
        |         / 1000000.0 AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.wday""".stripMargin,
    "curate_dataset_card" ->
      """WITH p AS (SELECT len(regexp_split_to_array(trim(text), '\s+')) AS nt,
        |             round(least(1.0, len(regexp_split_to_array(trim(text), '\s+'))/50.0)*0.4
        |               + (len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                   w -> list_contains(['the','a','and','of','to','in','is','that'], w)))
        |                  / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE))*0.3
        |               + (len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |                  / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE))*0.3, 6)
        |               AS q,
        |             lang, source, md5(text) AS fp
        |           FROM documents)
        |SELECT count(*) AS n_docs,
        |       CAST(sum(nt) AS BIGINT) AS n_tokens,
        |       count(DISTINCT source) AS n_sources,
        |       count(DISTINCT lang) AS n_langs,
        |       round(avg(q), 6) AS mean_quality,
        |       round(quantile_cont(nt, 0.5), 6) AS median_tokens,
        |       CAST(((count(*) - count(DISTINCT fp)) * 2000000 + count(*))
        |            // (2 * count(*)) AS DOUBLE) / 1000000.0 AS exact_dup_rate
        |FROM p""".stripMargin,
    "events_attr_linear" -> // identical window join, positions, and
      // integer credit truncation
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts,
        |             event_id AS pid
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tts,
        |        event_id AS tid, event_type
        |      FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT p.pid, t.event_type, t.tts, t.tid
        |      FROM p JOIN t USING (user_id)
        |      WHERE t.tts <= p.pts
        |        AND t.tts >= p.pts - INTERVAL 7 DAY),
        |cap AS (SELECT pid, event_type, tts, tid FROM (
        |          SELECT *, row_number() OVER (PARTITION BY pid
        |            ORDER BY tts DESC, tid DESC) AS rc FROM j)
        |        WHERE rc <= 64),
        |r AS (SELECT *, CAST(count(*) OVER (PARTITION BY pid) AS BIGINT)
        |        AS n FROM cap),
        |pc AS (SELECT event_type, count(*) AS n_touches,
        |         CAST(sum(1000000 // n) AS BIGINT) AS credit_e6
        |       FROM r GROUP BY 1),
        |tot AS (SELECT CAST(sum(credit_e6) AS BIGINT) AS total_e6 FROM pc)
        |SELECT event_type, n_touches, credit_e6,
        |       CAST((credit_e6 * 2000000 + total_e6) // (2 * total_e6)
        |            AS DOUBLE) / 1000000.0 AS credit_share
        |FROM pc CROSS JOIN tot ORDER BY event_type""".stripMargin,
    "events_attr_ushaped" -> // same join; 40/20/40 with the 1- and
      // 2-touch degenerations, middles an integer div of 200000
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts,
        |             event_id AS pid
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tts,
        |        event_id AS tid, event_type
        |      FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT p.pid, t.event_type, t.tts, t.tid
        |      FROM p JOIN t USING (user_id)
        |      WHERE t.tts <= p.pts
        |        AND t.tts >= p.pts - INTERVAL 7 DAY),
        |cap AS (SELECT pid, event_type, tts, tid FROM (
        |          SELECT *, row_number() OVER (PARTITION BY pid
        |            ORDER BY tts DESC, tid DESC) AS rc FROM j)
        |        WHERE rc <= 64),
        |r AS (SELECT *,
        |        CAST(row_number() OVER (PARTITION BY pid
        |          ORDER BY tts, tid) AS BIGINT) AS pos,
        |        CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS n
        |      FROM cap),
        |c AS (SELECT event_type,
        |        CASE WHEN n = 1 THEN 1000000
        |             WHEN n = 2 THEN 500000
        |             WHEN pos = 1 OR pos = n THEN 400000
        |             ELSE 200000 // (n - 2) END AS credit_e6
        |      FROM r),
        |pc AS (SELECT event_type, count(*) AS n_touches,
        |         CAST(sum(credit_e6) AS BIGINT) AS credit_e6
        |       FROM c GROUP BY 1),
        |tot AS (SELECT CAST(sum(credit_e6) AS BIGINT) AS total_e6 FROM pc)
        |SELECT event_type, n_touches, credit_e6,
        |       CAST((credit_e6 * 2000000 + total_e6) // (2 * total_e6)
        |            AS DOUBLE) / 1000000.0 AS credit_share
        |FROM pc CROSS JOIN tot ORDER BY event_type""".stripMargin,
    "events_attribution" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events
        |           WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS touch_ts,
        |        arg_max(event_id, event_id) AS touch_id,
        |        arg_max(event_type, event_id) AS touch_type
        |      FROM events
        |      WHERE event_type <> 'purchase' AND user_id IS NOT NULL
        |      GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts, p.value, t.touch_id, t.touch_type
        |FROM p ASOF LEFT JOIN t
        |  ON p.user_id = t.user_id AND p.ts >= t.touch_ts""".stripMargin,
    "events_changepoint" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |                 CAST(count(*) AS DOUBLE) AS n
        |               FROM events GROUP BY 1),
        |s AS (SELECT round(avg(n), 6) AS mu, count(*) AS days FROM daily),
        |c AS (SELECT day, round(sum(n - mu) OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cusum,
        |        mu, days
        |      FROM daily CROSS JOIN s)
        |SELECT day AS change_day, cusum, mu AS mean_daily, days
        |FROM c ORDER BY abs(cusum) DESC, day LIMIT 1""".stripMargin,
    "graph_degrees" ->
      """WITH items AS (SELECT basket, item FROM (
        |            SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsz
        |            FROM (SELECT DISTINCT l_orderkey AS basket,
        |                         l_partkey AS item FROM lineitem))
        |          WHERE bsz <= 1000),
        |sized AS (SELECT basket, item FROM
        |            (SELECT *, count(*) OVER (PARTITION BY basket) AS bsz
        |             FROM items)
        |          WHERE bsz <= 1000),
        |e AS (SELECT DISTINCT a.item AS u, b.item AS v
        |      FROM sized a JOIN sized b
        |        ON a.basket = b.basket AND a.item < b.item),
        |deg AS (SELECT n, count(*) AS deg FROM
        |          (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |hist AS (SELECT deg, count(*) AS n_nodes FROM deg GROUP BY 1),
        |al AS (SELECT round(1.0 + sum(n_nodes) /
        |         nullif(sum(n_nodes * ln(deg / 10.0)), 0), 6) AS alpha_hill
        |       FROM hist WHERE deg >= 10)
        |SELECT hist.deg, hist.n_nodes, al.alpha_hill
        |FROM hist CROSS JOIN al""".stripMargin,
    "stat_km_survival" ->
      """WITH pu AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd,
        |              max(CAST(ts AS DATE)) AS ld
        |            FROM events
        |            WHERE user_id IS NOT NULL AND event_type = 'purchase'
        |            GROUP BY 1),
        |h AS (SELECT max(ld) AS h FROM pu),
        |obs AS (SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS t,
        |          CASE WHEN ld < h - INTERVAL 7 DAY THEN 1 ELSE 0 END AS ev
        |        FROM pu CROSS JOIN h),
        |byt AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
        |          CAST(count(*) - sum(ev) AS BIGINT) AS c
        |        FROM obs GROUP BY 1),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM byt),
        |risk AS (SELECT t, d,
        |           n_total - COALESCE(CAST(sum(d + c) OVER (ORDER BY t
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |             AS BIGINT), 0) AS n_risk
        |         FROM byt CROSS JOIN tot),
        |f AS (SELECT t, d, n_risk,
        |        1.0 - CAST(d AS DOUBLE) / n_risk AS factor FROM risk),
        |s AS (SELECT t, d, n_risk,
        |        CASE WHEN min(factor) OVER (ORDER BY t) = 0 THEN 0.0
        |             ELSE round(exp(sum(ln(CASE WHEN factor > 0 THEN factor
        |               ELSE 1 END)) OVER (ORDER BY t)), 6) END AS survival
        |      FROM f)
        |SELECT t AS duration_days, d AS n_events, n_risk, survival
        |FROM s WHERE d > 0""".stripMargin,
    "stat_gini" ->
      """WITH u AS (SELECT user_id, sum(value) AS x FROM events
        |           WHERE user_id IS NOT NULL AND value IS NOT NULL
        |           GROUP BY 1),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i
        |      FROM u)
        |SELECT round(2.0 * sum(i * x) / (count(*) * sum(x))
        |         - (count(*) + 1.0) / count(*), 6) AS gini,
        |       CAST(count(*) AS BIGINT) AS n, round(sum(x), 6) AS total
        |FROM r""".stripMargin,
    "dq_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice)
        |             AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |           FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL
        |             AND l_extendedprice >= 1),
        |c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM c)
        |SELECT digit, n_obs,
        |       CAST((n_obs * 2000000 + n_total) // (2 * n_total) AS DOUBLE)
        |         / 1000000.0 AS p_obs,
        |       round(log10(1.0 + 1.0 / digit), 6) AS p_exp,
        |       round(abs(CAST(n_obs AS DOUBLE) / n_total
        |         - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
        |FROM c CROSS JOIN t""".stripMargin,
    "ts_ewma" ->
      """WITH e AS (SELECT user_id, ts, event_id, value FROM events
        |           WHERE user_id IS NOT NULL AND value IS NOT NULL
        |             AND ts IS NOT NULL),
        |l AS (SELECT user_id, ts, event_id, value,
        |        list(value) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id
        |          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS lst
        |      FROM e)
        |SELECT user_id, ts, event_id, value,
        |       round(list_aggregate(list_transform(
        |           generate_series(1, len(lst)),
        |           i -> lst[i] * pow(0.5, len(lst) - i)), 'sum')
        |         / ((1.0 - pow(0.5, len(lst))) / 0.5), 6) AS ewma
        |FROM l""".stripMargin,
    "stat_lorenz" ->
      """WITH u AS (SELECT user_id, sum(value) AS x FROM events
        |           WHERE user_id IS NOT NULL AND value IS NOT NULL
        |           GROUP BY 1),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS i
        |      FROM u),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS tx FROM r),
        |b AS (SELECT CAST((10 * i + n - 1) // n AS INT) AS bucket, x, tx
        |      FROM r CROSS JOIN t),
        |g AS (SELECT bucket, count(*) AS n, sum(x) AS bv, max(tx) AS tx
        |      FROM b GROUP BY 1)
        |SELECT bucket, n, round(bv, 6) AS value_sum,
        |       round(bv / tx, 6) AS value_share,
        |       round(sum(bv) OVER (ORDER BY bucket) / tx, 6) AS cum_share
        |FROM g""".stripMargin,
    "events_ltv" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, value
        |           FROM events
        |           WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |c AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1),
        |s AS (SELECT cohort, count(*) AS cohort_users FROM c GROUP BY 1),
        |r AS (SELECT cohort,
        |        CAST(date_diff('day', cohort, d) AS INT) AS age_days,
        |        sum(value) AS revenue
        |      FROM e JOIN c USING (user_id)
        |      WHERE date_diff('day', cohort, d) <= 30 GROUP BY 1, 2),
        |w AS (SELECT cohort, age_days, revenue,
        |        sum(revenue) OVER (PARTITION BY cohort ORDER BY age_days)
        |          AS cum
        |      FROM r)
        |SELECT w.cohort, w.age_days, round(w.revenue, 6) AS revenue,
        |       round(w.cum, 6) AS cum_revenue, s.cohort_users,
        |       round(w.cum / s.cohort_users, 6) AS ltv_per_user
        |FROM w JOIN s USING (cohort)""".stripMargin,
    "events_user_snapshot" ->
      """WITH h AS (SELECT max(CAST(ts AS DATE)) AS h FROM events
        |           WHERE user_id IS NOT NULL),
        |e AS (SELECT user_id, CAST(ts AS DATE) AS d, value, event_type
        |      FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id,
        |       CAST(date_diff('day', max(d), max(h)) AS INT)
        |         AS days_since_last,
        |       count(*) AS n_events,
        |       CAST(sum(CASE WHEN date_diff('day', d, h) < 7
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_events_7d,
        |       CAST(sum(CASE WHEN date_diff('day', d, h) < 28
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_events_28d,
        |       round(sum(COALESCE(value, 0)), 6) AS total_value,
        |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types
        |FROM e CROSS JOIN h GROUP BY user_id""".stripMargin,
    "ts_theil_sen" -> // identical pair set, identical (slope, dy, dx)
      // ordering, lower median at (n+1)//2; the slope double divides the
      // same two integers on both engines
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |                 CAST(count(*) AS BIGINT) AS v
        |               FROM events GROUP BY 1),
        |p AS (SELECT b.v - a.v AS dy,
        |        CAST(datediff('day', a.d, b.d) AS BIGINT) AS dx,
        |        CAST(b.v - a.v AS DOUBLE)
        |          / CAST(datediff('day', a.d, b.d) AS DOUBLE) AS slope
        |      FROM daily a JOIN daily b ON a.d < b.d),
        |r AS (SELECT *, row_number() OVER (ORDER BY slope, dy, dx) AS i,
        |        count(*) OVER () AS np
        |      FROM p)
        |SELECT (SELECT count(*) FROM daily) AS n_days,
        |       CAST(np AS BIGINT) AS n_pairs,
        |       dy AS med_dy, dx AS med_dx, slope
        |FROM r WHERE i = (np + 1) // 2""".stripMargin,
    "ts_twa" -> // same lead-window holding weights in exact epoch
      // micros; the weighted mean is the only double
      """WITH b AS (SELECT user_id AS k,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |             event_id AS tie, CAST(value AS DOUBLE) AS v
        |           FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |             AND value IS NOT NULL),
        |w AS (SELECT k, v,
        |        COALESCE(lead(tus) OVER (PARTITION BY k
        |          ORDER BY tus, tie) - tus, 0) AS wt
        |      FROM b)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(wt) AS BIGINT) AS span_us,
        |       round(CASE WHEN sum(wt) > 0
        |         THEN sum(v * CAST(wt AS DOUBLE))
        |              / CAST(sum(wt) AS DOUBLE) END, 6) AS twa
        |FROM w GROUP BY 1""".stripMargin,
    "fifo_allocation" -> // same half-open cumulative spans and overlap
      // join; trunc() before the BIGINT quantity casts (DuckDB rounds,
      // Spark truncates), quantities integral so both are exact
      """WITH sup AS (
        |  SELECT l_partkey AS k,
        |         CAST(trunc(l_quantity) AS BIGINT) AS q,
        |         sum(CAST(trunc(l_quantity) AS BIGINT)) OVER (
        |           PARTITION BY l_partkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |  FROM lineitem
        |  WHERE l_returnflag <> 'R'
        |    AND CAST(trunc(l_quantity) AS BIGINT) > 0),
        |dem AS (
        |  SELECT l_partkey AS k,
        |         CAST(trunc(l_quantity) AS BIGINT) AS q,
        |         sum(CAST(trunc(l_quantity) AS BIGINT)) OVER (
        |           PARTITION BY l_partkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
        |         row_number() OVER (
        |           PARTITION BY l_partkey
        |           ORDER BY l_shipdate, l_orderkey, l_linenumber) AS dseq
        |  FROM lineitem
        |  WHERE l_returnflag = 'R'
        |    AND CAST(trunc(l_quantity) AS BIGINT) > 0),
        |pairs AS (
        |  SELECT d.k, d.dseq, d.q AS dq,
        |         CASE WHEN s.k IS NOT NULL THEN
        |           least(s.hi, d.hi) - greatest(s.hi - s.q, d.hi - d.q)
        |         END AS alloc
        |  FROM dem d LEFT JOIN sup s
        |    ON d.k = s.k AND s.hi > d.hi - d.q AND s.hi - s.q < d.hi),
        |pd AS (SELECT k, dseq, max(dq) AS dq,
        |         CAST(sum(CASE WHEN alloc IS NOT NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS lots,
        |         CAST(COALESCE(sum(alloc), 0) AS BIGINT) AS got
        |       FROM pairs GROUP BY 1, 2)
        |SELECT lots AS lots_per_demand,
        |       CAST(count(*) AS BIGINT) AS n_demands,
        |       CAST(sum(dq) AS BIGINT) AS qty_demanded,
        |       CAST(sum(got) AS BIGINT) AS qty_allocated,
        |       CAST(sum(dq - got) AS BIGINT) AS qty_short
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_collocations" -> // same split, bigrams by array position,
      // marginals off the bigram table, exact-ratio lift
      """WITH d AS (SELECT doc_id,
        |             regexp_split_to_array(trim(text), '\s+') AS a
        |           FROM documents),
        |bi AS (SELECT a[i] AS x, a[i+1] AS y
        |       FROM d CROSS JOIN (SELECT unnest(generate_series(1,
        |           (SELECT CAST(max(len(a)) AS BIGINT) FROM d))) AS i)
        |       WHERE i <= len(a) - 1),
        |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy
        |        FROM bi GROUP BY 1, 2),
        |cx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x
        |       FROM cxy GROUP BY 1),
        |cy AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y
        |       FROM cxy GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS nn FROM cxy)
        |SELECT cxy.x, cxy.y, n_xy, n_x, n_y,
        |       CAST((n_xy * nn * 2000000 + n_x * n_y)
        |            // (2 * n_x * n_y) AS DOUBLE) / 1000000.0 AS lift
        |FROM cxy JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN tot
        |WHERE n_xy >= 5
        |ORDER BY lift DESC, x, y LIMIT 20""".stripMargin,
    "ts_acf" -> // null-day group excluded on both engines (acf filters
      // null order keys; Spark sorts nulls first, DuckDB last)
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |             CAST(count(*) AS DOUBLE) AS x
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |l AS (SELECT x,
        |        lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2,
        |        lag(x, 3) OVER w AS y3, lag(x, 4) OVER w AS y4,
        |        lag(x, 5) OVER w AS y5, lag(x, 6) OVER w AS y6,
        |        lag(x, 7) OVER w AS y7
        |      FROM d WINDOW w AS (ORDER BY day)),
        |s AS (SELECT 1 AS lag, x, y1 AS y FROM l
        |      UNION ALL SELECT 2, x, y2 FROM l
        |      UNION ALL SELECT 3, x, y3 FROM l
        |      UNION ALL SELECT 4, x, y4 FROM l
        |      UNION ALL SELECT 5, x, y5 FROM l
        |      UNION ALL SELECT 6, x, y6 FROM l
        |      UNION ALL SELECT 7, x, y7 FROM l)
        |SELECT lag, round(corr(x, y), 6) AS acf, count(*) AS n_pairs
        |FROM s WHERE y IS NOT NULL GROUP BY 1""".stripMargin,
    "ts_seasonal" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |             CAST(count(*) AS DOUBLE) AS v
        |           FROM events GROUP BY 1),
        |t AS (SELECT day, v,
        |        CASE WHEN count(*) OVER w7 = 7
        |             THEN avg(v) OVER w7 END AS trend,
        |        CAST(dayofweek(day) AS INT) AS dow
        |      FROM d WINDOW w7 AS (ORDER BY day
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |si AS (SELECT dow, avg(v - trend) AS seasonal FROM t
        |       WHERE trend IS NOT NULL GROUP BY 1)
        |SELECT t.day, t.dow, t.v AS cnt, round(t.trend, 6) AS trend,
        |       round(si.seasonal, 6) AS seasonal,
        |       round(t.v - t.trend - si.seasonal, 6) AS residual
        |FROM t LEFT JOIN si USING (dow)""".stripMargin,
    "dq_k_anonymity" ->
      """WITH g AS (SELECT lang, source, n_chars // 200 AS sz,
        |             count(*) AS n
        |           FROM documents GROUP BY 1, 2, 3)
        |SELECT 5 AS k, CAST(sum(n) AS BIGINT) AS n_rows,
        |       count(*) AS n_groups,
        |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_groups_at_risk,
        |       COALESCE(CAST(sum(CASE WHEN n < 5 THEN n END) AS BIGINT), 0)
        |         AS n_rows_at_risk,
        |       CAST((COALESCE(CAST(sum(CASE WHEN n < 5 THEN n END) AS BIGINT), 0)
        |             * 2000000 + CAST(sum(n) AS BIGINT))
        |            // (2 * CAST(sum(n) AS BIGINT)) AS DOUBLE) / 1000000.0
        |         AS risk_share
        |FROM g""".stripMargin,
    "dq_l_diversity" -> // same census shape over distinct-sensitive counts
      """WITH g AS (SELECT lang, source, count(*) AS n,
        |             count(DISTINCT n_chars // 200) AS n_sensitive
        |           FROM documents GROUP BY 1, 2)
        |SELECT 3 AS l, CAST(sum(n) AS BIGINT) AS n_rows,
        |       count(*) AS n_groups,
        |       CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_groups_at_risk,
        |       COALESCE(CAST(sum(CASE WHEN n_sensitive < 3 THEN n END)
        |                     AS BIGINT), 0) AS n_rows_at_risk,
        |       CAST((COALESCE(CAST(sum(CASE WHEN n_sensitive < 3 THEN n END)
        |                           AS BIGINT), 0)
        |             * 2000000 + CAST(sum(n) AS BIGINT))
        |            // (2 * CAST(sum(n) AS BIGINT)) AS DOUBLE) / 1000000.0
        |         AS risk_share
        |FROM g""".stripMargin,
    "dq_t_closeness" -> // ordered-EMD census in exact integers: cum_v
      // accumulates n_gv*N - n_v*n_g over the zero-filled group x value
      // grid; violation iff t_den*sum|cum| > t_num*n_g*N*(m-1)
      """WITH base AS (SELECT lang, source, n_chars // 200 AS v
        |              FROM documents WHERE n_chars IS NOT NULL),
        |tot AS (SELECT count(*) AS big_n, count(DISTINCT v) AS m
        |        FROM base),
        |vals AS (SELECT v, count(*) AS n_v FROM base GROUP BY 1),
        |grp AS (SELECT lang, source, count(*) AS n_g FROM base
        |        GROUP BY 1, 2),
        |gvt AS (SELECT lang, source, v, count(*) AS n_gv FROM base
        |        GROUP BY 1, 2, 3),
        |grid AS (SELECT g.lang, g.source, g.n_g, vv.v, vv.n_v,
        |           COALESCE(x.n_gv, 0) AS n_gv
        |         FROM grp g CROSS JOIN vals vv
        |         LEFT JOIN gvt x ON x.lang = g.lang
        |           AND x.source = g.source AND x.v = vv.v),
        |cums AS (SELECT lang, source, n_g,
        |           sum(n_gv * (SELECT big_n FROM tot) - n_v * n_g)
        |             OVER (PARTITION BY lang, source ORDER BY v) AS cum
        |         FROM grid),
        |emd AS (SELECT lang, source, max(n_g) AS n_g,
        |          CAST(sum(abs(cum)) AS BIGINT) AS emd_num
        |        FROM cums GROUP BY 1, 2),
        |census AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_rows,
        |             count(*) AS n_groups,
        |             CAST(sum(CASE WHEN 5 * emd_num >
        |                 1 * n_g * (SELECT big_n FROM tot)
        |                   * ((SELECT m FROM tot) - 1)
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_at_risk,
        |             COALESCE(CAST(sum(CASE WHEN 5 * emd_num >
        |                 1 * n_g * (SELECT big_n FROM tot)
        |                   * ((SELECT m FROM tot) - 1)
        |               THEN n_g END) AS BIGINT), 0) AS n_rows_at_risk
        |           FROM emd)
        |SELECT CAST(1 AS BIGINT) AS t_num, CAST(5 AS BIGINT) AS t_den,
        |       n_rows, n_groups, n_groups_at_risk, n_rows_at_risk,
        |       CAST((n_rows_at_risk * 2000000 + n_rows) // (2 * n_rows)
        |            AS DOUBLE) / 1000000.0 AS risk_share
        |FROM census""".stripMargin,
    "dq_profile_drift" -> // same one-aggregate-per-snapshot profile;
      // identical-double null-rate alarm, integer NDV band
      """WITH oref AS (SELECT * FROM orders
        |              WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
        |ocur AS (SELECT * FROM orders
        |         WHERE NOT (CAST(o_orderdate AS DATE) < DATE '1997-01-01')),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS n_ref,
        |        CAST(count(*) - count(o_orderstatus) AS BIGINT) AS rn1,
        |        CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS rd1,
        |        CAST(count(*) - count(o_orderpriority) AS BIGINT) AS rn2,
        |        CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS rd2,
        |        CAST(count(*) - count(o_custkey) AS BIGINT) AS rn3,
        |        CAST(count(DISTINCT o_custkey) AS BIGINT) AS rd3,
        |        CAST(count(*) - count(o_totalprice) AS BIGINT) AS rn4,
        |        CAST(count(DISTINCT o_totalprice) AS BIGINT) AS rd4
        |      FROM oref),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_cur,
        |        CAST(count(*) - count(o_orderstatus) AS BIGINT) AS cn1,
        |        CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS cd1,
        |        CAST(count(*) - count(o_orderpriority) AS BIGINT) AS cn2,
        |        CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS cd2,
        |        CAST(count(*) - count(o_custkey) AS BIGINT) AS cn3,
        |        CAST(count(DISTINCT o_custkey) AS BIGINT) AS cd3,
        |        CAST(count(*) - count(o_totalprice) AS BIGINT) AS cn4,
        |        CAST(count(DISTINCT o_totalprice) AS BIGINT) AS cd4
        |      FROM ocur),
        |j AS (SELECT * FROM r, c),
        |s AS (
        |  SELECT 'o_orderstatus' AS column_name, n_ref, rn1 AS n_null_ref,
        |         rd1 AS ndv_ref, n_cur, cn1 AS n_null_cur, cd1 AS ndv_cur
        |  FROM j
        |  UNION ALL
        |  SELECT 'o_orderpriority', n_ref, rn2, rd2, n_cur, cn2, cd2 FROM j
        |  UNION ALL
        |  SELECT 'o_custkey', n_ref, rn3, rd3, n_cur, cn3, cd3 FROM j
        |  UNION ALL
        |  SELECT 'o_totalprice', n_ref, rn4, rd4, n_cur, cn4, cd4 FROM j)
        |SELECT column_name, n_ref, n_null_ref, ndv_ref,
        |       n_cur, n_null_cur, ndv_cur,
        |  CAST((n_null_ref * 2000000 + greatest(n_ref, 1))
        |       // (2 * greatest(n_ref, 1)) AS DOUBLE) / 1000000.0
        |    AS null_rate_ref,
        |  CAST((n_null_cur * 2000000 + greatest(n_cur, 1))
        |       // (2 * greatest(n_cur, 1)) AS DOUBLE) / 1000000.0
        |    AS null_rate_cur,
        |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
        |    abs(CAST(n_null_ref AS DOUBLE) / CAST(n_ref AS DOUBLE)
        |        - CAST(n_null_cur AS DOUBLE) / CAST(n_cur AS DOUBLE))
        |      > 0.01 END AS null_shift,
        |  (2 * ndv_cur < ndv_ref OR ndv_cur > 2 * ndv_ref)
        |    AS ndv_outside_band
        |FROM s""".stripMargin,
    "dp_count_release" -> // same md5-seeded uniform; the discrete-Laplace
      // CDF boundary table below is the SAME Scala-rendered literal list
      // the plan embeds, so noise is a count of engine-exact double
      // comparisons — no logarithm runs in either engine
      s"""WITH g AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_true
        |           FROM customer GROUP BY 1),
        |n AS (SELECT c_nationkey, n_true,
        |        (CAST(CAST('0x' || substr(md5(
        |           concat_ws('|', CAST(c_nationkey AS VARCHAR))), 1, 12)
        |           AS BIGINT) AS DOUBLE) + 0.5) / 281474976710656.0 AS u
        |      FROM g),
        |z AS (SELECT c_nationkey, n_true,
        |        CAST(len(list_filter(
        |            ${graft.ops.Expectations.dpBoundarySql(1.0)},
        |          b -> b < u)) AS BIGINT)
        |          - ${graft.ops.Expectations.dpNoiseBoundaries(1.0)._2}
        |          AS noise
        |      FROM n)
        |SELECT c_nationkey, n_true, noise,
        |  greatest(n_true + noise, 0) AS n_released,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM z""".stripMargin,
    "dp_quantile_release" -> // exponential mechanism, base 1/2: the
      // integer power-of-two weight table is the SAME Scala-rendered
      // literal list the plan embeds; selection compares exact-double
      // renderings of < 2^53 integers against u·W — no libm either side
      s"""WITH counts AS (SELECT CAST(trunc(l_quantity) AS BIGINT) AS v,
        |                 CAST(count(*) AS BIGINT) AS c
        |          FROM lineitem WHERE l_quantity BETWEEN 1 AND 50
        |          GROUP BY 1),
        |dom AS (SELECT unnest(generate_series(1, 50)) AS v),
        |tbl AS (SELECT dom.v, coalesce(c, 0) AS c,
        |          CAST(sum(coalesce(c, 0)) OVER (ORDER BY dom.v)
        |               AS BIGINT) AS cum
        |        FROM dom LEFT JOIN counts ON counts.v = dom.v),
        |tot AS (SELECT max(cum) AS n,
        |          greatest(1, (max(cum) * 1 * 2 + 2) // (2 * 2)) AS t
        |        FROM tbl),
        |wt AS (SELECT v, cum, n, t,
        |         ${graft.ops.Expectations.dpQuantileWeightsSql}[
        |           CAST(least(abs(cum - t),
        |             ${graft.ops.Expectations.DpQuantileD}) + 1 AS INT)]
        |           AS wv
        |       FROM tbl, tot),
        |cw AS (SELECT *, CAST(sum(wv) OVER (ORDER BY v) AS BIGINT) AS cumw
        |       FROM wt),
        |wtot AS (SELECT CAST(sum(wv) AS BIGINT) AS w_total FROM wt),
        |u AS (SELECT (CAST(CAST('0x' || substr(md5('dpq|1/2'), 1, 12)
        |          AS BIGINT) AS DOUBLE) + 0.5) / 281474976710656.0 AS uu)
        |SELECT CAST(0.5 AS DOUBLE) AS q,
        |  CAST(${java.lang.String.format(java.util.Locale.ROOT, "%.17g",
             Double.box(4.0 * math.log(2.0)))} AS DOUBLE) AS epsilon,
        |  max(n) AS n_rows, max(t) AS t_rank,
        |  min(CASE WHEN cum >= t THEN v END) AS v_true,
        |  min(CASE WHEN CAST(cumw AS DOUBLE)
        |             > uu * CAST(w_total AS DOUBLE) THEN v END)
        |    AS v_released
        |FROM cw, wtot, u""".stripMargin,
    "eval_confusion" -> // same conditional-count cells per threshold;
      // every presented ratio is the shared exact half-up form
      """WITH s AS (SELECT
        |    CAST(trunc(CAST(embedding[1] AS DOUBLE) * 10000.0) AS BIGINT)
        |      AS score,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |t(thr) AS (VALUES (-2000), (-1000), (0), (1000), (2000)),
        |c AS (SELECT CAST(thr AS BIGINT) AS threshold,
        |        CAST(sum(CASE WHEN score >= thr AND y = 1 THEN 1 ELSE 0
        |          END) AS BIGINT) AS tp,
        |        CAST(sum(CASE WHEN score >= thr AND y = 0 THEN 1 ELSE 0
        |          END) AS BIGINT) AS fp,
        |        CAST(sum(CASE WHEN score < thr AND y = 1 THEN 1 ELSE 0
        |          END) AS BIGINT) AS fn,
        |        CAST(sum(CASE WHEN score < thr AND y = 0 THEN 1 ELSE 0
        |          END) AS BIGINT) AS tn
        |      FROM s CROSS JOIN t GROUP BY thr)
        |SELECT threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp + fn + tn > 0 THEN
        |    CAST(((tp + tn) * 2000000 + (tp + fp + fn + tn))
        |         // (2 * (tp + fp + fn + tn)) AS DOUBLE) / 1000000.0
        |  END AS accuracy,
        |  CASE WHEN tp + fp > 0 THEN
        |    CAST((tp * 2000000 + (tp + fp)) // (2 * (tp + fp)) AS DOUBLE)
        |      / 1000000.0
        |  END AS prec,
        |  CASE WHEN tp + fn > 0 THEN
        |    CAST((tp * 2000000 + (tp + fn)) // (2 * (tp + fn)) AS DOUBLE)
        |      / 1000000.0
        |  END AS recall,
        |  CASE WHEN 2 * tp + fp + fn > 0 THEN
        |    CAST((2 * tp * 2000000 + (2 * tp + fp + fn))
        |         // (2 * (2 * tp + fp + fn)) AS DOUBLE) / 1000000.0
        |  END AS f1
        |FROM c ORDER BY threshold""".stripMargin,
    "eval_auc" -> // midrank Mann-Whitney in BIGINT: 2*midrank =
      // 2*|{< s}| + n(s) + 1; AUC = (S2 - P(P+1)) / (2PN) half-up
      """WITH s AS (SELECT
        |    CAST(trunc(CAST(embedding[1] AS DOUBLE) * 10000.0) AS BIGINT)
        |      AS score,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |g AS (SELECT score, count(*) AS n, sum(y) AS np FROM s
        |      GROUP BY 1),
        |r AS (SELECT *, COALESCE(sum(n) OVER (ORDER BY score
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS cum_lt FROM g),
        |a AS (SELECT
        |        CAST(sum(np * (2 * cum_lt + n + 1)) AS BIGINT) AS s2,
        |        CAST(sum(np) AS BIGINT) AS n_pos,
        |        CAST(sum(n - np) AS BIGINT) AS n_neg,
        |        count(*) AS n_scores
        |      FROM r)
        |SELECT n_pos, n_neg, n_scores,
        |  CAST(((s2 - n_pos * (n_pos + 1)) * 2000000 + 2 * n_pos * n_neg)
        |       // (4 * n_pos * n_neg) AS DOUBLE) / 1000000.0 AS auc
        |FROM a""".stripMargin,
    "eval_calibration" -> // same e4 probability and integer binning;
      // both rates are the shared exact half-up form
      """WITH s AS (SELECT
        |    greatest(least(CAST(trunc(CAST(embedding[1] AS DOUBLE)
        |      * 10000.0) AS BIGINT) + 5000, 10000), 0) AS p,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |b AS (SELECT least(p * 10 // 10000, 9) AS bin, p, y FROM s),
        |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(p) AS BIGINT) AS sum_p,
        |        CAST(sum(y) AS BIGINT) AS n_pos
        |      FROM b GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  CAST((sum_p * 2000000 + n * 10000)
        |       // (2 * n * 10000) AS DOUBLE) / 1000000.0 AS mean_pred,
        |  CAST((n_pos * 2000000 + n) // (2 * n) AS DOUBLE) / 1000000.0
        |    AS obs_rate
        |FROM g ORDER BY bin""".stripMargin,
    "eval_brier" -> // exact BIGINT squared-error numerator; the mean is
      // one double division of exact BIGINTs (identical IEEE both sides)
      """WITH s AS (SELECT
        |    greatest(least(CAST(trunc(CAST(embedding[1] AS DOUBLE)
        |      * 10000.0) AS BIGINT) + 5000, 10000), 0) AS p,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum((p - y * 10000) * (p - y * 10000)) AS BIGINT)
        |          AS brier_num
        |      FROM s)
        |SELECT n, brier_num,
        |  CAST(brier_num AS DOUBLE) / CAST(n * 100000000 AS DOUBLE)
        |    AS brier
        |FROM a""".stripMargin,
    "eval_kappa" -> // 2x2 census + chance-corrected agreement; kappa as
      // one double division (it can be negative — no div convention)
      """WITH s AS (SELECT
        |    CASE WHEN CAST(trunc(CAST(embedding[1] AS DOUBLE) * 10000.0)
        |      AS BIGINT) >= 0 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS b
        |  FROM embeddings),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM s),
        |k AS (SELECT *, n11 + n10 + n01 + n00 AS n,
        |        (n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)
        |          AS chance
        |      FROM c)
        |SELECT n11, n10, n01, n00, n,
        |  CAST(((n11 + n00) * 2000000 + n) // (2 * n) AS DOUBLE)
        |    / 1000000.0 AS p_o,
        |  CASE WHEN n * n - chance <> 0 THEN
        |    CAST(n * (n11 + n00) - chance AS DOUBLE)
        |      / CAST(n * n - chance AS DOUBLE) END AS kappa
        |FROM k""".stripMargin,
    "label_majority" -> // same 3-annotator arithmetic, same pinned
      // most-votes-then-smallest-label tie rule
      """WITH ann AS (
        |  SELECT doc_id, k, (doc_id * (k + 3) + k) % 5 AS label
        |  FROM documents, (SELECT unnest([0, 1, 2]) AS k)),
        |pl AS (SELECT doc_id, label, count(*) AS votes
        |       FROM ann GROUP BY 1, 2),
        |v AS (SELECT doc_id, label, votes,
        |        sum(votes) OVER (PARTITION BY doc_id) AS total,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY votes DESC, label ASC) AS rn
        |      FROM pl),
        |g AS (SELECT CAST(label AS BIGINT) AS vote,
        |        CAST(count(*) AS BIGINT) AS n_items,
        |        CAST(sum(CASE WHEN votes = total THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_unanimous
        |      FROM v WHERE rn = 1 GROUP BY 1)
        |SELECT vote, n_items, n_unanimous,
        |  CAST((n_unanimous * 2000000 + n_items) // (2 * n_items)
        |    AS DOUBLE) / 1000000.0 AS unanimity_share
        |FROM g ORDER BY vote""".stripMargin,
    "label_annotator_accuracy" -> // same consensus (pinned tie rule),
      // joined back onto the annotation table; exact ratios
      """WITH ann AS (
        |  SELECT doc_id, k, (doc_id * (k + 3) + k) % 5 AS label
        |  FROM documents, (SELECT unnest([0, 1, 2]) AS k)),
        |pl AS (SELECT doc_id, label, count(*) AS votes
        |       FROM ann GROUP BY 1, 2),
        |v AS (SELECT doc_id, label,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY votes DESC, label ASC) AS rn
        |      FROM pl),
        |c AS (SELECT doc_id, label AS consensus FROM v WHERE rn = 1),
        |g AS (SELECT CAST(ann.k AS BIGINT) AS annotator,
        |        CAST(count(*) AS BIGINT) AS n_items,
        |        CAST(sum(CASE WHEN ann.label = c.consensus THEN 1 ELSE 0
        |          END) AS BIGINT) AS n_agree
        |      FROM ann JOIN c USING (doc_id) GROUP BY 1)
        |SELECT annotator, n_items, n_agree,
        |  CAST((n_agree * 2000000 + n_items) // (2 * n_items) AS DOUBLE)
        |    / 1000000.0 AS accuracy
        |FROM g ORDER BY annotator""".stripMargin,
    "eval_ece" -> // the same binning; the weighted gap telescopes to one
      // exact BIGINT numerator, ece as one double division
      """WITH s AS (SELECT
        |    greatest(least(CAST(trunc(CAST(embedding[1] AS DOUBLE)
        |      * 10000.0) AS BIGINT) + 5000, 10000), 0) AS p,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |b AS (SELECT least(p * 10 // 10000, 9) AS bin, p, y FROM s),
        |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(p) AS BIGINT) AS sum_p,
        |        CAST(sum(y) AS BIGINT) AS n_pos
        |      FROM b GROUP BY 1),
        |a AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS n_bins,
        |        CAST(sum(abs(sum_p - 10000 * n_pos)) AS BIGINT) AS ece_num
        |      FROM g)
        |SELECT n, n_bins, ece_num,
        |  CAST(ece_num AS DOUBLE) / CAST(n * 10000 AS DOUBLE) AS ece
        |FROM a""".stripMargin,
    "eval_pass_at_k" -> // same falling-factorial products (HUGEINT —
      // exact like Spark's DECIMAL(34) ladder), max-0 clamp, pass@5 as
      // one double division of the exact integers
      """WITH t AS (SELECT doc_id % 20 AS problem,
        |    CASE WHEN length(text) % 3 = 0 THEN 1 ELSE 0 END AS correct
        |  FROM documents),
        |g AS (SELECT problem, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(correct) AS BIGINT) AS c
        |      FROM t GROUP BY 1 HAVING count(*) >= 5),
        |f AS (SELECT problem, n, c,
        |        CAST(greatest(n-c, 0) AS HUGEINT) * greatest(n-c-1, 0)
        |          * greatest(n-c-2, 0) * greatest(n-c-3, 0)
        |          * greatest(n-c-4, 0) AS fail_num,
        |        CAST(n AS HUGEINT) * (n-1) * (n-2) * (n-3) * (n-4) AS den
        |      FROM g)
        |SELECT problem, n, c,
        |  CAST(den - fail_num AS DOUBLE) / CAST(den AS DOUBLE)
        |    AS pass_at_k
        |FROM f ORDER BY problem""".stripMargin,
    "label_krippendorff" -> // same 3-rater fixture as label_majority;
      // Do/De census in BIGINT, alpha as one double division
      """WITH ann AS (
        |  SELECT doc_id, (doc_id * (k + 3) + k) % 5 AS label
        |  FROM documents, (SELECT unnest([0, 1, 2]) AS k)),
        |cell AS (SELECT doc_id, label, CAST(count(*) AS BIGINT) AS nic
        |         FROM ann GROUP BY 1, 2),
        |per AS (SELECT doc_id, sum(nic) AS mi, sum(nic * nic) AS sq
        |        FROM cell GROUP BY 1 HAVING sum(nic) = 3),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |        CAST(sum(9 - sq) AS BIGINT) AS do_num
        |      FROM per),
        |lt AS (SELECT label, CAST(sum(nic) AS BIGINT) AS nc
        |       FROM cell JOIN per USING (doc_id) GROUP BY 1),
        |e AS (SELECT CAST(sum(nc * nc) AS BIGINT) AS sum_nc_sq FROM lt)
        |SELECT n_items, n_items * 3 AS n_ratings, do_num,
        |  2 * ((n_items * 3) * (n_items * 3) - sum_nc_sq) AS de_num,
        |  CASE WHEN 2 * ((n_items * 3) * (n_items * 3) - sum_nc_sq) <> 0
        |    THEN CAST(2 * ((n_items * 3) * (n_items * 3) - sum_nc_sq)
        |           - (n_items * 3 - 1) * do_num AS DOUBLE)
        |      / CAST(2 * ((n_items * 3) * (n_items * 3) - sum_nc_sq)
        |           AS DOUBLE) END AS alpha
        |FROM d CROSS JOIN e""".stripMargin,
    "eval_pr_curve" -> // running census over the distinct quantized
      // scores (descending); precision/recall via the exact-ratio spelling
      """WITH s AS (SELECT
        |    greatest(least(CAST(trunc(CAST(embedding[1] AS DOUBLE)
        |      * 10000.0) AS BIGINT) + 5000, 10000), 0) AS p,
        |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
        |  FROM embeddings),
        |g AS (SELECT p AS score, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(y) AS BIGINT) AS pos
        |      FROM s GROUP BY 1),
        |r AS (SELECT score,
        |        CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n,
        |        CAST(sum(pos) OVER (ORDER BY score DESC) AS BIGINT)
        |          AS cum_pos,
        |        sum(pos) OVER () AS total_pos
        |      FROM g)
        |SELECT score, cum_n, cum_pos,
        |  CAST((cum_pos * 2000000 + cum_n) // (2 * cum_n) AS DOUBLE)
        |    / 1000000.0 AS prec_e6,
        |  CASE WHEN total_pos > 0 THEN
        |    CAST((cum_pos * 2000000 + total_pos) // (2 * total_pos)
        |      AS DOUBLE) / 1000000.0 END AS rec_e6
        |FROM r ORDER BY score DESC""".stripMargin,
    "eval_rouge_l" -> // Allison–Dix bit-parallel LCS row (BIGINT, rlen
      // <= 40 bits) advanced one candidate token per recursive step —
      // the integer twin of graft.functions.TokenLcs; LCS = rlen −
      // popcount(final row), F1 exact-ratio
      """WITH RECURSIVE tok AS MATERIALIZED (
        |  SELECT doc_id, (regexp_split_to_array(trim(text), '\s+'))[1:40]
        |           AS toks
        |  FROM documents),
        |pairs AS MATERIALIZED (
        |  SELECT r.doc_id AS ref_id, c.doc_id AS cand_id,
        |         r.toks AS rt, c.toks AS ct,
        |         len(r.toks) AS rlen, len(c.toks) AS clen
        |  FROM tok r JOIN tok c ON c.doc_id = r.doc_id + 1
        |  WHERE r.doc_id % 2 = 0),
        |rec AS (
        |  SELECT ref_id, rt, ct, rlen, clen, 0 AS i,
        |         CAST((1::BIGINT << rlen) - 1 AS BIGINT) AS rw
        |  FROM pairs
        |  UNION ALL
        |  SELECT ref_id, rt, ct, rlen, clen, i + 1,
        |         ((rw + (rw & m)) | (rw & ~m))
        |           & ((1::BIGINT << rlen) - 1)
        |  FROM (SELECT *,
        |          list_aggregate(list_transform(generate_series(1, rlen),
        |            j -> CASE WHEN rt[j] = ct[i+1]
        |                 THEN (1::BIGINT << (j-1)) ELSE 0 END),
        |            'sum') AS m
        |        FROM rec WHERE i < clen) s),
        |lcs AS (SELECT rec.ref_id, rlen - bit_count(rw) AS lcs_len
        |        FROM rec
        |        JOIN (SELECT ref_id AS r2, max(i) AS mi
        |              FROM rec GROUP BY 1) mx
        |          ON rec.ref_id = mx.r2 AND rec.i = mx.mi)
        |SELECT p.ref_id, p.cand_id, CAST(l.lcs_len AS BIGINT) AS lcs_len,
        |       CAST(p.rlen AS BIGINT) AS ref_len,
        |       CAST(p.clen AS BIGINT) AS cand_len,
        |       CAST((l.lcs_len * 2 * 2000000 + (p.rlen + p.clen))
        |            // (2 * (p.rlen + p.clen)) AS DOUBLE) / 1000000.0
        |         AS rouge_l_f1
        |FROM pairs p JOIN lcs l ON l.ref_id = p.ref_id""".stripMargin,
    "eval_wer" -> // token-level Levenshtein via the per-pair
      // vocab-to-codepoint map (sorted distinct pair vocab <= 80, so
      // chr(64 + pos) is one char in both engines); WER exact ratio
      """WITH t AS (SELECT doc_id,
        |    (regexp_split_to_array(trim(text), '\s+'))[1:40] AS toks
        |  FROM documents),
        |p AS (SELECT r.doc_id AS ref_id, c.doc_id AS cand_id,
        |        r.toks AS rt, c.toks AS ct
        |      FROM t r JOIN t c ON c.doc_id = r.doc_id + 1
        |      WHERE r.doc_id % 2 = 0),
        |m AS (SELECT ref_id, cand_id, rt, ct,
        |        list_sort(list_distinct(list_concat(rt, ct))) AS vocab
        |      FROM p),
        |s AS (SELECT ref_id, cand_id,
        |        CAST(len(rt) AS BIGINT) AS ref_len,
        |        CAST(len(ct) AS BIGINT) AS cand_len,
        |        list_aggregate(list_transform(rt,
        |          x -> chr(64 + list_position(vocab, x))), 'string_agg', '')
        |          AS rs,
        |        list_aggregate(list_transform(ct,
        |          x -> chr(64 + list_position(vocab, x))), 'string_agg', '')
        |          AS cs
        |      FROM m)
        |SELECT ref_id, cand_id,
        |  CAST(levenshtein(rs, cs) AS BIGINT) AS edit_dist,
        |  ref_len, cand_len,
        |  CAST((CAST(levenshtein(rs, cs) AS BIGINT) * 2000000 + ref_len)
        |       // (2 * ref_len) AS DOUBLE) / 1000000.0 AS wer
        |FROM s""".stripMargin,
    "eval_token_f1" -> // bag-of-tokens overlap per pair: inner join of
      // per-side token counts, zero-overlap pairs kept by the left join
      // back; all three scores the shared half-up integer rendering
      """WITH t AS (SELECT doc_id,
        |    (regexp_split_to_array(trim(text), '\s+'))[1:40] AS toks
        |  FROM documents),
        |p AS (SELECT r.doc_id // 2 AS pid, r.toks AS rt, c.toks AS ct
        |      FROM t r JOIN t c ON c.doc_id = r.doc_id + 1
        |      WHERE r.doc_id % 2 = 0),
        |g AS (SELECT pid, side, g, CAST(count(*) AS BIGINT) AS cnt FROM (
        |        SELECT pid, 0 AS side, unnest(rt) AS g FROM p
        |        UNION ALL SELECT pid, 1, unnest(ct) FROM p)
        |      GROUP BY 1, 2, 3),
        |ov AS (SELECT c.pid,
        |         CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS overlap
        |       FROM g c JOIN g r ON r.pid = c.pid AND r.g = c.g
        |         AND r.side = 0
        |       WHERE c.side = 1 GROUP BY 1),
        |b AS (SELECT p.pid, CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
        |        CAST(len(rt) AS BIGINT) AS ref_len,
        |        CAST(len(ct) AS BIGINT) AS cand_len
        |      FROM p LEFT JOIN ov ON ov.pid = p.pid)
        |SELECT pid * 2 AS ref_id, pid * 2 + 1 AS cand_id,
        |  overlap, ref_len, cand_len,
        |  CAST((overlap * 2000000 + cand_len)
        |       // (2 * cand_len) AS DOUBLE) / 1000000.0 AS prec,
        |  CAST((overlap * 2000000 + ref_len)
        |       // (2 * ref_len) AS DOUBLE) / 1000000.0 AS rec,
        |  CAST((overlap * 2 * 2000000 + (ref_len + cand_len))
        |       // (2 * (ref_len + cand_len)) AS DOUBLE) / 1000000.0
        |    AS token_f1
        |FROM b""".stripMargin,
    "eval_gleu" -> // pooled 1+2-gram conditional-count pivot; GLEU =
      // overlap / greatest(ref, cand) in the shared half-up rendering
      """WITH t AS (SELECT doc_id,
        |    (regexp_split_to_array(trim(text), '\s+'))[1:40] AS toks
        |  FROM documents),
        |p AS (SELECT r.doc_id // 2 AS pid, r.toks AS rt, c.toks AS ct
        |      FROM t r JOIN t c ON c.doc_id = r.doc_id + 1
        |      WHERE r.doc_id % 2 = 0),
        |sides AS (SELECT pid, 0 AS side, rt AS toks FROM p
        |          UNION ALL SELECT pid, 1, ct FROM p),
        |grams AS (
        |  SELECT pid, side, 1 AS n, unnest(toks) AS g FROM sides
        |  UNION ALL
        |  SELECT pid, side, 2 AS n,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      j -> toks[j] || ' ' || toks[j + 1])) AS g
        |  FROM sides),
        |cells AS (SELECT pid, n, g,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS rcnt,
        |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ccnt
        |  FROM grams GROUP BY 1, 2, 3),
        |agg AS (SELECT pid,
        |    CAST(sum(least(rcnt, ccnt)) AS BIGINT) AS overlap,
        |    CAST(sum(rcnt) AS BIGINT) AS ref_grams,
        |    CAST(sum(ccnt) AS BIGINT) AS cand_grams
        |  FROM cells GROUP BY 1)
        |SELECT pid * 2 AS ref_id, pid * 2 + 1 AS cand_id,
        |  overlap, ref_grams, cand_grams,
        |  CAST((overlap * 2000000 + greatest(ref_grams, cand_grams))
        |       // (2 * greatest(ref_grams, cand_grams)) AS DOUBLE)
        |    / 1000000.0 AS gleu
        |FROM agg""".stripMargin,
    "eval_bleu_clip" -> // candidate n-gram counts clipped at reference
      // counts, pair-local left join on (pid, n, gram)
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, (regexp_split_to_array(trim(text), '\s+'))[1:40]
        |           AS toks
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id // 2 AS pid, doc_id % 2 AS side, n, g,
        |         count(*) AS cnt
        |  FROM (
        |    SELECT doc_id, 1 AS n, unnest(toks) AS g FROM tok
        |    UNION ALL
        |    SELECT doc_id, 2 AS n,
        |           unnest(list_transform(generate_series(1, len(toks) - 1),
        |             i -> concat_ws(' ', toks[i], toks[i+1]))) AS g
        |    FROM tok)
        |  GROUP BY 1, 2, 3, 4),
        |j AS (SELECT c.pid, c.n,
        |             CAST(sum(least(c.cnt, coalesce(r.cnt, 0)))
        |               AS BIGINT) AS num,
        |             CAST(sum(c.cnt) AS BIGINT) AS den
        |      FROM (SELECT * FROM grams WHERE side = 1
        |            AND pid IN (SELECT pid FROM grams WHERE side = 0)) c
        |      LEFT JOIN (SELECT * FROM grams WHERE side = 0) r
        |        ON r.pid = c.pid AND r.n = c.n AND r.g = c.g
        |      GROUP BY 1, 2)
        |SELECT pid * 2 AS ref_id, pid * 2 + 1 AS cand_id,
        |       max(CASE WHEN n = 1 THEN num END) AS p1_num,
        |       max(CASE WHEN n = 1 THEN den END) AS p1_den,
        |       coalesce(max(CASE WHEN n = 2 THEN num END), 0) AS p2_num,
        |       coalesce(max(CASE WHEN n = 2 THEN den END), 0) AS p2_den,
        |       CAST((max(CASE WHEN n = 1 THEN num END) * 2000000
        |             + max(CASE WHEN n = 1 THEN den END))
        |            // (2 * max(CASE WHEN n = 1 THEN den END)) AS DOUBLE)
        |         / 1000000.0 AS p1,
        |       CASE WHEN coalesce(max(CASE WHEN n = 2 THEN den END), 0) > 0
        |         THEN CAST((max(CASE WHEN n = 2 THEN num END) * 2000000
        |                    + max(CASE WHEN n = 2 THEN den END))
        |            // (2 * max(CASE WHEN n = 2 THEN den END)) AS DOUBLE)
        |         / 1000000.0 END AS p2
        |FROM j GROUP BY 1, 2""".stripMargin,
    "eval_chrf" -> // character 1..3-gram clipped counts per pair;
      // chrF2 = 5m/(4 r_den + p_den) in the exact-ratio spelling
      """WITH t AS (SELECT doc_id,
        |    substr(regexp_replace(text, '\s+', '', 'g'), 1, 80) AS s
        |  FROM documents),
        |p AS (SELECT r.doc_id // 2 AS pid, r.s AS rs, c.s AS ks
        |      FROM t r JOIN t c ON c.doc_id = r.doc_id + 1
        |      WHERE r.doc_id % 2 = 0),
        |g AS (SELECT pid, side, n, g, count(*) AS cnt
        |      FROM (
        |        SELECT pid, 0 AS side, nn.n,
        |               unnest(list_transform(
        |                 generate_series(1, len(rs) - nn.n + 1),
        |                 i -> substr(rs, i, nn.n))) AS g
        |        FROM p, (SELECT unnest([1, 2, 3]) AS n) nn
        |        UNION ALL
        |        SELECT pid, 1 AS side, nn.n,
        |               unnest(list_transform(
        |                 generate_series(1, len(ks) - nn.n + 1),
        |                 i -> substr(ks, i, nn.n))) AS g
        |        FROM p, (SELECT unnest([1, 2, 3]) AS n) nn)
        |      GROUP BY 1, 2, 3, 4),
        |rden AS (SELECT pid, n, CAST(sum(cnt) AS BIGINT) AS r_den
        |         FROM g WHERE side = 0 GROUP BY 1, 2),
        |j AS (SELECT c.pid, c.n,
        |             CAST(sum(least(c.cnt, coalesce(r.cnt, 0)))
        |               AS BIGINT) AS clip_m,
        |             CAST(sum(c.cnt) AS BIGINT) AS p_den
        |      FROM (SELECT * FROM g WHERE side = 1) c
        |      LEFT JOIN (SELECT * FROM g WHERE side = 0) r
        |        ON r.pid = c.pid AND r.n = c.n AND r.g = c.g
        |      GROUP BY 1, 2)
        |SELECT pid * 2 AS ref_id, pid * 2 + 1 AS cand_id, n,
        |  clip_m, p_den, r_den,
        |  CAST((clip_m * 2000000 + p_den) // (2 * p_den) AS DOUBLE)
        |    / 1000000.0 AS p_e6,
        |  CAST((clip_m * 2000000 + r_den) // (2 * r_den) AS DOUBLE)
        |    / 1000000.0 AS r_e6,
        |  CAST((clip_m * 5 * 2000000 + (r_den * 4 + p_den))
        |    // (2 * (r_den * 4 + p_den)) AS DOUBLE) / 1000000.0 AS chrf2_e6
        |FROM j JOIN rden USING (pid, n)""".stripMargin,
    "eval_distinct_n" ->
      """WITH t AS (SELECT lang, regexp_split_to_array(trim(text), '\s+')
        |             AS toks
        |           FROM documents),
        |g AS (
        |  SELECT lang, 1 AS n, unnest(toks) AS g FROM t
        |  UNION ALL
        |  SELECT lang, 2 AS n,
        |         unnest(list_transform(generate_series(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1]))) AS g
        |  FROM t)
        |SELECT lang, n,
        |       CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
        |       CAST(count(*) AS BIGINT) AS total_grams,
        |       CAST((count(DISTINCT g) * 2000000 + count(*))
        |            // (2 * count(*)) AS DOUBLE) / 1000000.0
        |         AS distinct_ratio
        |FROM g GROUP BY 1, 2""".stripMargin,
    "eval_mrr" -> // brute top-10 (sim_topk_brute's exact CTE), first
      // same-label rank per query, MRR exact over 2520 = LCM(1..10)
      """WITH v AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings),
        |n AS (SELECT vec_id, label, vec,
        |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum'))
        |          AS nrm FROM v),
        |q AS (SELECT vec_id AS query_id, label AS q_label, vec AS qvec,
        |        nrm AS qnorm FROM n WHERE vec_id % 50 = 0),
        |sc AS (SELECT query_id, q_label, vec_id AS neighbor_id,
        |         label AS n_label,
        |         round(list_aggregate(list_transform(
        |             generate_series(1, len(qvec)), i -> qvec[i]*vec[i]),
        |           'sum') / (qnorm*nrm), 6) AS cos_sim
        |       FROM n CROSS JOIN q WHERE vec_id <> query_id),
        |tk AS (SELECT query_id, q_label, n_label, rn FROM (
        |         SELECT *, row_number() OVER (PARTITION BY query_id
        |           ORDER BY cos_sim DESC, neighbor_id) AS rn FROM sc)
        |       WHERE rn <= 10),
        |fr AS (SELECT query_id, q_label,
        |         min(CASE WHEN n_label = q_label THEN rn END) AS first_rel
        |       FROM tk GROUP BY 1, 2)
        |SELECT q_label AS label, count(*) AS n_queries,
        |  CAST(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_hit,
        |  CAST((CAST(sum(COALESCE(2520 // first_rel, 0)) AS BIGINT)
        |        * 2000000 + 2520 * count(*))
        |       // (2 * 2520 * count(*)) AS DOUBLE) / 1000000.0 AS mrr
        |FROM fr GROUP BY 1 ORDER BY label""".stripMargin,
    "eval_ndcg" -> {
      // eval_mrr's brute top-10 CTE with the 1/log2(rank+1) discount
      // QUANTIZED to the e6 weight table — interpolated from the ONE
      // Scala constant the plan also uses, so no SQL-side logarithm
      val w = graft.ops.Eval.ndcgWeightsE6
      val p = w.scanLeft(0L)(_ + _).tail
      val wCase = w.zipWithIndex
        .map { case (x, i) => s"WHEN ${i + 1} THEN $x" }.mkString(" ")
      val pCase = p.zipWithIndex
        .map { case (x, i) => s"WHEN ${i + 1} THEN $x" }.mkString(" ")
      s"""WITH v AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings),
         |n AS (SELECT vec_id, label, vec,
         |        sqrt(list_aggregate(list_transform(vec, x -> x*x), 'sum'))
         |          AS nrm FROM v),
         |q AS (SELECT vec_id AS query_id, label AS q_label, vec AS qvec,
         |        nrm AS qnorm FROM n WHERE vec_id % 50 = 0),
         |sc AS (SELECT query_id, q_label, vec_id AS neighbor_id,
         |         label AS n_label,
         |         round(list_aggregate(list_transform(
         |             generate_series(1, len(qvec)), i -> qvec[i]*vec[i]),
         |           'sum') / (qnorm*nrm), 6) AS cos_sim
         |       FROM n CROSS JOIN q WHERE vec_id <> query_id),
         |tk AS (SELECT query_id, q_label, n_label, rn FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_sim DESC, neighbor_id) AS rn FROM sc)
         |       WHERE rn <= 10),
         |lc AS (SELECT label, count(*) AS n_label_total FROM v GROUP BY 1),
         |dcg AS (SELECT query_id, q_label,
         |          CAST(sum(CASE WHEN n_label = q_label THEN
         |            CASE rn $wCase ELSE 0 END ELSE 0 END) AS BIGINT)
         |            AS dcg_e6
         |        FROM tk GROUP BY 1, 2),
         |per AS (SELECT d.query_id, d.q_label, d.dcg_e6,
         |          CASE WHEN lc.n_label_total >= 2 THEN
         |            CASE least(lc.n_label_total - 1, 10) $pCase ELSE 0 END
         |          ELSE 0 END AS idcg_e6
         |        FROM dcg d JOIN lc ON lc.label = d.q_label)
         |SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(dcg_e6) AS BIGINT) AS sum_dcg_e6,
         |  CAST(sum(idcg_e6) AS BIGINT) AS sum_idcg_e6,
         |  CASE WHEN sum(idcg_e6) > 0 THEN
         |    CAST((CAST(sum(dcg_e6) AS BIGINT) * 2000000
         |          + CAST(sum(idcg_e6) AS BIGINT))
         |         // (2 * CAST(sum(idcg_e6) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0
         |  ELSE NULL END AS ndcg_micro
         |FROM per GROUP BY 1 ORDER BY label""".stripMargin
    },
    "eval_feature_auc" -> // trunc() before the BIGINT casts (DuckDB
      // rounds raw double->int casts; Spark truncates); midrank rank-sum
      // AUC per feature, all sums exact BIGINT
      """WITH f AS (
        |  SELECT 'quantity' AS feature,
        |         CAST(trunc(l_quantity) AS BIGINT) AS s,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'price_cents', CAST(trunc(l_extendedprice * 100) AS BIGINT),
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'discount_pct', CAST(trunc(l_discount * 100) AS BIGINT),
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        |  FROM lineitem),
        |g AS (SELECT feature, s, count(*) AS n, sum(y) AS np
        |      FROM f GROUP BY 1, 2),
        |r AS (SELECT *, COALESCE(sum(n) OVER (PARTITION BY feature
        |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), 0) AS cum_lt FROM g),
        |a AS (SELECT feature,
        |        CAST(sum(np * (2 * cum_lt + n + 1)) AS BIGINT) AS s2,
        |        CAST(sum(np) AS BIGINT) AS n_pos,
        |        CAST(sum(n - np) AS BIGINT) AS n_neg,
        |        CAST(count(*) AS BIGINT) AS n_scores
        |      FROM r GROUP BY 1)
        |SELECT feature, n_pos, n_neg, n_scores,
        |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |         CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
        |           / CAST(2 * n_pos * n_neg AS DOUBLE)
        |       ELSE NULL END AS auc
        |FROM a ORDER BY feature""".stripMargin,
    "dq_fd_check" -> // per rule: (det, dep) census, then the determinant
      // rollup with the g3 repair measure — exact integer throughout
      """WITH p1 AS (SELECT o_orderkey AS det, o_custkey AS dep,
        |              count(*) AS n
        |            FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1, 2),
        |d1 AS (SELECT det, count(*) AS n_dep, sum(n) AS n_rows_det,
        |              max(n) AS n_majority
        |       FROM p1 GROUP BY 1),
        |r1 AS (SELECT 'o_orderkey->o_custkey' AS rule,
        |              CAST(count(*) AS BIGINT) AS n_determinants,
        |              CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS n_violating,
        |              COALESCE(CAST(sum(CASE WHEN n_dep > 1 THEN n_rows_det
        |                                 END) AS BIGINT), 0)
        |                AS n_rows_violating,
        |              COALESCE(CAST(sum(n_rows_det - n_majority) AS BIGINT),
        |                       0) AS n_repair_deletes
        |       FROM d1),
        |p2 AS (SELECT o_custkey AS det, o_orderpriority AS dep,
        |              count(*) AS n
        |            FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
        |d2 AS (SELECT det, count(*) AS n_dep, sum(n) AS n_rows_det,
        |              max(n) AS n_majority
        |       FROM p2 GROUP BY 1),
        |r2 AS (SELECT 'o_custkey->o_orderpriority' AS rule,
        |              CAST(count(*) AS BIGINT),
        |              CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END)
        |                   AS BIGINT),
        |              COALESCE(CAST(sum(CASE WHEN n_dep > 1 THEN n_rows_det
        |                                 END) AS BIGINT), 0),
        |              COALESCE(CAST(sum(n_rows_det - n_majority) AS BIGINT),
        |                       0)
        |       FROM d2),
        |p3 AS (SELECT o_orderpriority AS det, o_orderstatus AS dep,
        |              count(*) AS n
        |            FROM orders WHERE o_orderpriority IS NOT NULL
        |            GROUP BY 1, 2),
        |d3 AS (SELECT det, count(*) AS n_dep, sum(n) AS n_rows_det,
        |              max(n) AS n_majority
        |       FROM p3 GROUP BY 1),
        |r3 AS (SELECT 'o_orderpriority->o_orderstatus' AS rule,
        |              CAST(count(*) AS BIGINT),
        |              CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END)
        |                   AS BIGINT),
        |              COALESCE(CAST(sum(CASE WHEN n_dep > 1 THEN n_rows_det
        |                                 END) AS BIGINT), 0),
        |              COALESCE(CAST(sum(n_rows_det - n_majority) AS BIGINT),
        |                       0)
        |       FROM d3)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
        |SELECT * FROM r3 ORDER BY rule""".stripMargin,
    "feat_calibration" ->
      """WITH s AS (SELECT 1.0 / (1.0 + exp(-8.0 * CAST(embedding[1]
        |             AS DOUBLE))) AS s,
        |           CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
        |           FROM embeddings
        |           WHERE embedding[1] IS NOT NULL AND label IS NOT NULL)
        |SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin,
        |       count(*) AS n, round(avg(s), 6) AS mean_score,
        |       CAST((CAST(sum(y) AS BIGINT) * 2000000 + count(*))
        |            // (2 * count(*)) AS DOUBLE) / 1000000.0 AS frac_pos
        |FROM s GROUP BY 1""".stripMargin,
    "stat_ks" -> // same conditional-CDF construction from first principles
      """WITH base AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ca,
        |         CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS cb
        |  FROM documents WHERE lang IN ('en', 'fr') AND n_chars IS NOT NULL),
        |counts AS (SELECT v, sum(ca) AS na, sum(cb) AS nb FROM base GROUP BY 1),
        |tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
        |               CAST(sum(nb) AS BIGINT) AS tb FROM counts),
        |cum AS (SELECT abs(CAST(sum(na) OVER (ORDER BY v) AS DOUBLE) / ta
        |             - CAST(sum(nb) OVER (ORDER BY v) AS DOUBLE) / tb) AS diff,
        |               ta, tb
        |        FROM counts, tot),
        |d AS (SELECT max(diff) AS ds, max(ta) AS na2, max(tb) AS nb2 FROM cum)
        |SELECT round(ds, 6) AS d_stat, na2 AS n_a, nb2 AS n_b,
        |       round(least(1.0, 2.0 * exp(-2.0 * ds * ds * na2 * nb2
        |                                  / (na2 + nb2))), 6) AS p_value
        |FROM d""".stripMargin,
    "feat_psi" -> // reference-quantile bins (quantile_cont = Spark's
      // percentile, both type-7 linear interpolation), shares + surprise
      """WITH o AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |                  (CAST(o_orderdate AS DATE) < DATE '1997-01-01') AS r
        |           FROM orders WHERE o_totalprice IS NOT NULL),
        |b AS (SELECT quantile_cont(CASE WHEN r THEN v END,
        |        [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM o),
        |binned AS (SELECT CAST(len(list_filter(b.bs, x -> x < o.v)) AS INT)
        |                    AS bin,
        |                  CASE WHEN o.r THEN 1 ELSE 0 END AS ir
        |           FROM o, b),
        |g AS (SELECT bin, CAST(sum(ir) AS BIGINT) AS nr,
        |             CAST(count(*) - sum(ir) AS BIGINT) AS nc
        |      FROM binned GROUP BY 1),
        |t AS (SELECT CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS tr,
        |             CAST(sum(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS tc
        |      FROM o)
        |SELECT bin, nr AS n_ref, nc AS n_cur,
        |       CAST((nr * 2000000 + tr) // (2 * tr) AS DOUBLE) / 1000000.0
        |         AS ref_share,
        |       CAST((nc * 2000000 + tc) // (2 * tc) AS DOUBLE) / 1000000.0
        |         AS cur_share,
        |       round((CAST(nc AS DOUBLE) / tc - CAST(nr AS DOUBLE) / tr)
        |             * ln(greatest(CAST(nc AS DOUBLE) / tc, 1e-6)
        |                  / greatest(CAST(nr AS DOUBLE) / tr, 1e-6)), 6)
        |         AS psi_term
        |FROM g, t""".stripMargin,
  )
}
