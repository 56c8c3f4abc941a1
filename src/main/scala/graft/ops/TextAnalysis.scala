package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ExactRatio.exactRatio

/** Text-analysis operators for a training-data pipeline (beyond-reference
  * surface mandated by BASELINE.json): token counting, quality scoring,
  * n-gram language ID, document fingerprinting.
  *
  * Every operator here is a NARROW transformation — pure per-row column
  * expressions, no shuffle, no UDF: at 100 TB these run at scan speed inside
  * whole-stage codegen, and all of them are DuckDB-expressible so the
  * correctness gate covers them exactly.
  */
object TextAnalysis {

  /** Whitespace tokenizer (documents.text is whitespace-separated). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish subword count estimate: each word contributes ceil(len/4)
    * pieces — the standard chars/4 heuristic applied per token.
    */
  def bpeTokenEstimate(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + ceil(length(t) / 4.0).cast("long"))

  val EnStop: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "that")
  val FrStop: Seq[String] = Seq("le", "la", "et", "les", "des", "un", "une", "du")
  val DeStop: Seq[String] = Seq("der", "die", "und", "das", "ein", "mit", "von", "zu")
  val EsStop: Seq[String] = Seq("el", "los", "y", "que", "una", "por", "como", "para")

  /** Count of tokens contained in `stop` (duplicates count, like a real
    * stopword-hit scorer).
    */
  def stopHits(toks: Column, stop: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(stop.map(lit): _*), t)))

  /** Quality score in [0,1]: length saturation + stopword ratio + lexical
    * diversity, fixed weights. All-double arithmetic, rounded to 6.
    */
  def qualityScore(toks: Column): Column = {
    val n = size(toks)
    val stopRatio = stopHits(toks, EnStop) / n.cast("double")
    val distinctRatio = size(array_distinct(toks)) / n.cast("double")
    round(
      least(lit(1.0), n / 50.0) * 0.4 + stopRatio * 0.3 + distinctRatio * 0.3, 6)
  }

  /** N-gram-heuristic language ID: stopword hits per candidate language,
    * argmax with deterministic preference order en > fr > de > es; no hits
    * at all -> "und" (unknown).
    */
  def langId(toks: Column): Column = {
    val en = stopHits(toks, EnStop)
    val fr = stopHits(toks, FrStop)
    val de = stopHits(toks, DeStop)
    val es = stopHits(toks, EsStop)
    when(en + fr + de + es === 0, "und")
      .when(en >= fr && en >= de && en >= es, "en")
      .when(fr >= de && fr >= es, "fr")
      .when(de >= es, "de")
      .otherwise("es")
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercased text.
    * Identical content (modulo spacing/case) -> identical fingerprint; the
    * exact-dedup key. md5 is bit-identical across engines, so this is fully
    * oracle-checkable (unlike a seeded rolling hash).
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  // ---- query-shaped entry points (SparkEntry wiring) ----------------------

  def tokenCounts(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      bpeTokenEstimate(t).as("bpe_tokens"))
  }

  def quality(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      // exact fixed point for the int/int ratios: round(double, 6) is
      // engine-dependent when hits/n is a true 6-dp decimal tie
      exactRatio(stopHits(t, EnStop), size(t), 6).as("stop_ratio"),
      exactRatio(size(array_distinct(t)), size(t), 6).as("distinct_ratio"),
      qualityScore(t).as("quality"))
  }

  def languages(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), langId(tokens(col("text"))).as("lang_pred"))

  /** Classic readability indices from three integer counts — words
    * (shared [[tokens]] split), sentences (runs of terminal punctuation,
    * floored at 1), and the standard vowel-group syllable approximation:
    * Flesch reading ease 206.835 − 1.015·(w/s) − 84.6·(sy/w) and
    * Flesch–Kincaid grade 0.39·(w/s) + 11.8·(sy/w) − 15.59. A corpus-
    * curation signal orthogonal to [[qualityScore]]: quality keeps
    * well-formed text, readability STRATIFIES it (children's books vs
    * case law) for curriculum ordering.
    *
    * The counts are engine-exact; the indices are identical-double
    * expressions whose binary-inexact multipliers keep the 6-dp rounding
    * off the decimal-tie class (RoundingTieSpec's NON-EXACT WEIGHTS
    * argument). Narrow projection — scan-speed, no shuffle.
    */
  def readability(docs: DataFrame): DataFrame = {
    val w = size(tokens(col("text"))).cast("long")
    val s = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
        .cast("long"), lit(1L))
    val sy = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0))).cast("long")
    val wps = w.cast("double") / s.cast("double")
    val spw = sy.cast("double") / w.cast("double")
    docs.select(col("doc_id"),
      w.as("n_words"), s.as("n_sentences"), sy.as("n_syllables"),
      round(when(w > 0L,
        lit(206.835) - lit(1.015) * wps - lit(84.6) * spw), 6)
        .as("flesch"),
      round(when(w > 0L,
        lit(0.39) * wps + lit(11.8) * spw - lit(15.59)), 6)
        .as("fk_grade"))
  }

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Deterministic train/val/test split assignment by key hash — the
    * dataset-split primitive: stable across runs, engines and cluster
    * sizes (md5 of the key, never rand()), so a corpus re-processed
    * elsewhere lands every doc in the same split. A narrow projection —
    * assignment happens at scan speed, and downstream readers filter on
    * the split column (pushable predicate).
    */
  def splitAssign(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long"),
      lit(100))
    docs.select(col("doc_id"), col("lang"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Per-language corpus monitoring rollup: doc counts, token-length
    * stats, mean quality — the dashboard numbers a corpus build emits
    * after every batch. One narrow projection + one grouped aggregate.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(col("lang"), size(t).as("n_tokens"), qualityScore(t).as("q"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        round(avg(col("q")), 6).as("avg_quality"))
  }

  /** Vocabulary induction: corpus-wide token frequencies, top `k` by
    * (count desc, token asc) — the first step of tokenizer training and
    * the classic two-phase aggregation: partial counts map-side, one
    * shuffle on the token, then a total-order top-k that moves only the
    * already-aggregated (token, count) pairs.
    */
  def vocabTopK(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** TF-IDF in long form: one (doc_id, token, tf, df, tf_idf) row per
    * distinct (doc, token). idf = ln((N + 1) / (df + 1)) (smoothed, never
    * divides by zero); rounded to 6 like every cross-engine score. The
    * doc-frequency side is a second aggregate over the same exploded
    * stream; the df join shuffles on the token (the inverted-index
    * shape), and the corpus size N enters as a broadcast single-row join
    * — a pure plan, no driver action.
    */
  def tfIdf(docs: DataFrame): DataFrame = {
    val repart = Spread.byKey(docs, col("doc_id"))
    val terms = repart.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nRow = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    tf.join(df, "token")
      .crossJoin(broadcast(nRow))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6).as("tf_idf"))
  }

  /** Per-document keyword extraction: each doc's top-`k` tokens by
    * [[tfIdf]] score (ties: higher score, then lexicographic token) — the
    * cheap, deterministic document tagger for faceting, routing, and
    * weak topic labels.
    *
    * The rank window partitions by doc_id over the (doc, token) aggregate:
    * partition size is a DOCUMENT's distinct-token count (bounded by doc
    * length, never corpus-sized), and the rank-≤-k filter plans Spark's
    * WindowGroupLimit pushdown (the w7 pattern — per-partition top-k heaps
    * below the exchange). Ranking keys on the ROUNDED score, so the order
    * is engine-stable.
    */
  def keywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf_idf").desc, col("token").asc)
    tfIdf(docs)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("token"), col("tf_idf"), col("rnk"))
  }

  /** Per-document token entropy (nats): H = ln(n) - Σ c·ln(c) / n over the
    * doc's token frequencies — the information-density signal that
    * separates natural prose (high) from boilerplate and keyword stuffing
    * (low). The algebraic form needs ONE aggregate over (doc, token)
    * counts (no per-token probability join), and the counts groupBy rides
    * the doc_id exchange, so the whole operator is one shuffle.
    */
  def tokenEntropy(docs: DataFrame): DataFrame =
    Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        sum(col("c") * log(col("c"))).as("clogc"))
      .select(col("doc_id"), col("n"),
        round(log(col("n")) - col("clogc") / col("n"), 4).as("entropy"))

  /** Jensen-Shannon divergence between the `lang` distributions of two
    * corpus slices — the drift monitor a pipeline runs between releases
    * (JSD is symmetric, bounded by ln 2, and defined when a language
    * exists on only one side — where KL blows up). One pass builds both
    * distributions (two conditional counts per language); the divergence
    * is a fold over the O(#languages) rollup.
    */
  def langDrift(docs: DataFrame, isLeft: Column, isRight: Column): DataFrame = {
    val counts = docs.groupBy("lang").agg(
      sum(when(isLeft, 1L).otherwise(0L)).as("ca"),
      sum(when(isRight, 1L).otherwise(0L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    def term(c: Column, n: Column, m: Column) =
      when(c > 0, (c / n) * log((c / n) / m)).otherwise(lit(0.0))
    counts.crossJoin(broadcast(tot))
      .select(
        ((col("ca") / col("na") + col("cb") / col("nb")) / 2.0).as("m"),
        col("ca"), col("cb"), col("na"), col("nb"))
      .agg(round(
        (sum(term(col("ca"), col("na"), col("m"))) +
          sum(term(col("cb"), col("nb"), col("m")))) / 2.0, 6).as("jsd"))
  }

  /** Bigram language-model quality score — the CCNet/KenLM-shaped filter:
    * an n-gram LM is trained on the corpus and each document is scored by
    * its average bigram log-probability; documents far below the corpus
    * norm (gibberish, boilerplate, wrong-language) rank lowest and are the
    * filter-out candidates.
    *
    * Training is MLE on the corpus itself: P(w2|w1) = c(w1 w2) / c(w1·),
    * with the prefix counts c(w1·) derived FROM the bigram counts (a
    * second aggregate over the vocabulary-sized count table, not a second
    * pass over the corpus). Every scored bigram was seen in training, so
    * no smoothing term is needed and the score is a pure corpus statistic.
    *
    * Plan shape at scale: one doc_id exchange feeds both the bigram stream
    * and (via the counts aggregate) the model; the scoring join shuffles
    * on the gram key — the same inverted-index shape as [[tfIdf]]. Nothing
    * is ever all-pairs, and the model tables are vocabulary-sized.
    * Documents with fewer than 2 tokens have no bigrams and are absent
    * from the output (score undefined), mirroring the oracle's WHERE.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bigrams = Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .select(col("doc_id"), col("w"), lead(col("w"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("w2")).as("bg"))
    val c12 = bigrams.groupBy("bg").agg(count(lit(1)).as("c12"))
    val c1 = c12
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val model = c12.join(c1,
      substring_index(c12("bg"), " ", 1) === c1("w1"))
    bigrams.join(model, "bg")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c12") / col("c1"))), 4).as("avg_logp"))
  }

  /** Concat-and-chunk sequence packing — the GPT-style training-data
    * layout: documents are concatenated in a deterministic order and cut
    * every `capacity` tokens; each document is labeled with the sequence
    * (chunk) its cumulative offset starts in. A document straddling a
    * boundary is split at tokenization time downstream; this operator
    * assigns the deterministic layout, which is what must be reproducible
    * across engines/runs.
    *
    * Packing is per-`lang` (monolingual training shards): the window
    * partitions by lang, so parallelism = shard count. At 100 TB the shard
    * key would be finer (lang x source x hash bucket) — same plan, more
    * partitions; the running sum itself is the scalable layout primitive
    * (vs. true bin packing, which is inherently sequential per bin and
    * buys only ~pad-token savings over concat-and-chunk).
    */
  def packSequences(docs: DataFrame, capacity: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counted = docs.select(
      col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_tokens"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    counted
      .withColumn("cum_prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("cum_prev") / capacity).cast("long").as("seq_id"))
  }

  /** Quality-weighted reproducible sampling: each doc is kept with
    * inclusion probability proportional to its quality score (md5-unit
    * threshold, never rand()) — the soft curation between a hard quality
    * cutoff (curate_corpus) and uniform sampling: low-quality docs still
    * contribute, just less. Deterministic across runs/engines/cluster
    * sizes, and a pure narrow filter at scan speed.
    */
  def sampleWeighted(docs: DataFrame, scale: Double = 0.3): DataFrame = {
    val unit = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("double") / 65536.0
    docs.select(col("doc_id"), col("lang"),
        qualityScore(tokens(col("text"))).as("quality"))
      .filter(unit < col("quality") * scale)
  }

  /** Source-mixing plan — the data-mixing step of corpus assembly: given
    * target corpus shares per source, derive each source's sampling rate
    * and expected contribution from its actual size. rate = min(1,
    * share * N / n_source): an under-represented source samples at 1.0
    * (cannot be over-drawn without replacement — the plan surfaces the
    * shortfall via expected_docs < share * N). One tiny grouped count +
    * two broadcast joins; the rates then feed a hash-threshold filter
    * like [[sampleWeighted]]'s at scan speed.
    */
  def mixPlan(docs: DataFrame, targets: Seq[(String, Double)],
      defaultShare: Double = 0.025): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = broadcast(targets.toDF("source", "target_share"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val total = broadcast(docs.agg(count(lit(1)).cast("double").as("n_total")))
    val share = coalesce(col("target_share"), lit(defaultShare))
    counts.join(t, Seq("source"), "left")
      .crossJoin(total)
      .select(col("source"), col("n_docs"),
        round(share, 6).as("target_share"),
        round(least(lit(1.0), share * col("n_total") / col("n_docs")), 6)
          .as("sample_rate"),
        round(least(col("n_docs").cast("double"), share * col("n_total")), 4)
          .as("expected_docs"))
  }

  /** Realize a [[mixPlan]]: deterministic hash-threshold sampling of each
    * source at its planned rate — the step that turns the mixing PLAN
    * into the mixed CORPUS. Keep `doc` iff
    * `md5_unit(doc_id) < sample_rate(source)` (the [[sampleWeighted]]
    * hash convention: stable across runs/engines/cluster sizes, a pure
    * narrow filter at scan speed). Returns the per-source reconciliation
    * (planned rate vs realized draw) rather than the sampled rows — the
    * audit table a curation run logs; the row-level sample is the same
    * filter without the final aggregate.
    *
    * Plan: the rate table is O(sources) (guard-broadcast), so the corpus
    * is scanned ONCE with a broadcast-joined threshold filter and
    * reduced map-side to O(sources) counts — no shuffle carries corpus
    * rows. Sources whose draw is empty still appear (left join back to
    * the plan), so a rate bug cannot hide as a missing row.
    */
  def mixApply(docs: DataFrame, targets: Seq[(String, Double)],
      defaultShare: Double = 0.025): DataFrame = {
    val rates = mixPlan(docs, targets, defaultShare)
      .select(col("source"), col("n_docs"), col("sample_rate"))
    val unit = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("double") / 65536.0
    val sampled = docs.select(col("source"), col("doc_id"))
      .join(graft.operators.Broadcasting.checked(
        rates.select("source", "sample_rate")),
        Seq("source"))
      .filter(unit < col("sample_rate"))
      .groupBy("source").agg(count(lit(1)).as("sampled_docs"))
    rates.join(sampled, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("sample_rate"),
        coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"))
  }

  /** Weighted adjacent-symbol pair counts over a symbolized vocabulary —
    * the inner aggregate of BPE tokenizer training. Input: (syms, n) = a
    * word as its current symbol array and its corpus frequency. Output:
    * (left, right, weighted_count), the statistic whose argmax is the next
    * merge. Two-phase hash aggregate; the pair stream is narrow
    * (per-row position explode), so cost is one pass over the vocabulary
    * regardless of corpus size — the corpus itself is only read once, by
    * the word-count aggregate that feeds this.
    */
  def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab
      // single-symbol words carry no pairs; the filter also keeps the
      // position sequence below from degenerating (sequence(0,-1) would
      // infer a NEGATIVE step and emit bogus indices, not an empty array)
      .filter(size(col("syms")) >= 2)
      .select(col("n"), posexplode(
        transform(sequence(lit(0), size(col("syms")) - 2),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r"))))
        .as(Seq("pos", "pair")))
      .groupBy(col("pair.l").as("left"), col("pair.r").as("right"))
      .agg(sum(col("n")).as("weighted_count"))

  /** Character-symbolized word vocabulary: (syms, n) for each distinct
    * token, n = corpus frequency. The BPE training start state.
    */
  def bpeVocab(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(split(col("word"), "").as("syms"), col("n"))

  /** BPE merge training: `iters` greedy merge steps. Each step takes the
    * highest-weighted adjacent pair (ties: left asc, right asc — fully
    * deterministic) and applies it to the vocabulary with the standard
    * greedy left-to-right fold (an "aaaa" with merge (a,a) becomes
    * [aa,aa], never [a,aa,a]). Returns the merge table
    * (iteration, left, right, weighted_count) — the tokenizer artifact.
    *
    * Scale: the loop is O(iters) jobs over the VOCABULARY (already
    * aggregated — millions of rows at web scale, not the corpus), each one
    * explode + hash aggregate + a 1-row argmax to the driver, exactly the
    * bounded driver state of the k-means/connected-components loops. The
    * fold is a narrow higher-order aggregate; re-symbolization never
    * re-reads the corpus. Each iteration localCheckpoints the vocab so
    * lineage stays O(1) instead of stacking `iters` fold layers.
    */
  def bpeMerges(docs: DataFrame, iters: Int = 3): Seq[(Int, String, String, Long)] = {
    var vocab = bpeVocab(docs).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (it <- 1 to iters) {
      val top = bpePairCounts(vocab)
        .orderBy(col("weighted_count").desc, col("left").asc, col("right").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((it, l, r, cnt))
        val prev = vocab
        vocab = vocab.select(
          aggregate(col("syms"), typedLit(Seq.empty[String]),
            (acc, s) => when(
              size(acc) > 0 && element_at(acc, -1) === l && s === r,
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(s)))).as("syms"),
          col("n")).localCheckpoint(true)
        prev.unpersist()
      }
    }
    merges.toSeq
  }

  /** [[bpeMerges]] as a gate-checkable DataFrame — the learned tokenizer
    * merge table (merge_rank, lhs, rhs, weighted_count). The oracle
    * replays each round with the run-parity window rendering of the
    * greedy left-to-right fold (mark pair-start positions; adjacent
    * marks only occur for lhs == rhs runs, where the odd ones within
    * each run survive — validated against an independent Python BPE on
    * the fixture AND on adversarial same-char-run corpora before
    * wiring). The 3-row LocalRelation is the loop's own bounded driver
    * state, not a data collect.
    */
  def bpeLearn(docs: DataFrame, iters: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMerges(docs, iters)
      .toDF("merge_rank", "lhs", "rhs", "weighted_count")
  }

  /** Epoch plan under a token budget — the data-constrained-scaling step
    * after [[mixPlan]]: given target corpus shares and a total token
    * budget (a fraction of the corpus's own token mass, so the plan is
    * self-contained and deterministic), how many EPOCHS of each source
    * does the mixture need? epochs > 1 means upsampling (repeating data),
    * the quantity LLM data work budgets explicitly. One grouped token
    * count + two 1-row/O(sources) broadcasts; nothing scales past the
    * corpus scan.
    */
  def epochPlan(docs: DataFrame, targets: Seq[(String, Double)],
      budgetFraction: Double = 0.5, defaultShare: Double = 0.025): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val t = broadcast(targets.toDF("source", "target_share"))
    val counts = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
    val total = broadcast(counts.agg(
      sum(col("n_tokens")).cast("double").as("total_tokens")))
    val share = coalesce(col("target_share"), lit(defaultShare))
    counts.join(t, Seq("source"), "left")
      .crossJoin(total)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(share, 6).as("target_share"),
        round(share * col("total_tokens") * lit(budgetFraction), 4)
          .as("needed_tokens"),
        round(share * col("total_tokens") * lit(budgetFraction)
          / col("n_tokens"), 6).as("epochs"),
        (share * col("total_tokens") * lit(budgetFraction)
          > col("n_tokens").cast("double")).as("upsampled"))
  }

  /** The tokenizer APPLY path: encode the corpus vocabulary with the
    * merges [[bpeMerges]] learns — the step every training pipeline runs
    * over 100 TB after training the tokenizer once. Each learned merge is
    * the SAME greedy left-to-right fold used during training (single
    * sourced semantics: training fold == encode fold by construction), so
    * a word's encoding equals its final training-time symbolization.
    * Output per distinct word: corpus frequency, char length, and encoded
    * token count — corpus-level totals (tokens = Σ n·n_tokens,
    * compression = chars/tokens) are one trivial aggregate away.
    *
    * Scale: the folds run over the VOCABULARY (already aggregated), never
    * the corpus — `iters` narrow HOF layers on O(vocab) rows; the corpus
    * is read once by the word-count aggregate. Same vocabulary-bound
    * design the sf10 rung verified flat for bpe_learn.
    */
  def bpeEncode(docs: DataFrame, iters: Int = 3): DataFrame = {
    val merges = bpeMerges(docs, iters)
    val vocab0 = docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("word"), col("n"), split(col("word"), "").as("syms"))
    val folded = merges.foldLeft(vocab0) { case (v, (_, l, r, _)) =>
      v.select(col("word"), col("n"),
        aggregate(col("syms"), typedLit(Seq.empty[String]),
          (acc, s) => when(
            size(acc) > 0 && element_at(acc, -1) === l && s === r,
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(s)))).as("syms"))
    }
    folded.select(col("word"), col("n"),
      length(col("word")).cast("long").as("n_chars"),
      size(col("syms")).cast("long").as("n_tokens"))
  }

  /** Document-level read-out of [[bpeEncode]] — the number every training
    * pipeline actually bills by: BPE tokens PER DOCUMENT, plus the
    * doc's word/char mass and its compression ratio (chars per token,
    * [[graft.functions.ExactRatio]] at 6 dp). This is the artifact that
    * feeds token-budget curation and sequence packing with REAL tokenizer
    * counts instead of the whitespace proxy `text_token_count` uses.
    *
    * Plan: the corpus explodes once into (doc_id, word) and pre-aggregates
    * to per-doc word multiplicities BEFORE joining the O(vocab) encoding
    * table on `word` (a shuffle equi-join — the vocabulary of a 100 TB
    * corpus is itself large, so no broadcast), then one groupBy(doc_id)
    * reduces to a row per document. Two keyed exchanges over aggregated
    * rows; the BPE fold itself stays vocabulary-bound ([[bpeEncode]]).
    */
  def bpeEncodeDocs(docs: DataFrame, iters: Int = 3): DataFrame = {
    val enc = bpeEncode(docs, iters).select(col("word"), col("n_tokens"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("m"))
      .join(enc, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_words"),
        sum(col("m") * length(col("word")).cast("long")).as("n_chars"),
        sum(col("m") * col("n_tokens")).as("n_tokens"))
      .withColumn("compression", exactRatio(col("n_chars"), col("n_tokens"), 6))
  }

  /** PII redaction patterns (RE2-safe: no backrefs/lookarounds, so the same
    * pattern text behaves identically in Java regex and RE2-family
    * engines). Order matters: emails first (an email contains no phone/IP
    * match after replacement), then IPs, then phone-shaped digit runs.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe = "\\+?\\d[\\d\\s().-]{7,}\\d"

  /** Replaces emails/IPv4s/phone-shaped digit runs with typed tags — a
    * narrow codegen'd regexp_replace chain, scan-speed at any corpus size.
    * (Spec-verified on synthetic text: the fixture corpus contains no PII,
    * which would make a DuckDB oracle vacuous.)
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  def redactions(docs: DataFrame): DataFrame = {
    val red = redactPii(col("text"))
    // count tags in the OUTPUT, not patterns in the input: the patterns
    // overlap (an IPv4 is also a phone-shaped digit run), so input-side
    // counting double-counts what the ordered replacement chain redacts once
    docs.select(col("doc_id"), red.as("text_redacted"),
      regexp_count(red, lit("<EMAIL>|<IP>|<PHONE>")).as("n_pii"))
  }

  /** Non-vacuous, oracle-checkable PII redaction: the fixture corpus
    * contains no PII, so this audit first weaves deterministic PII spans
    * (email / IPv4 / phone, each present for a doc_id-dependent subset of
    * docs) into the text as a pure function of the input row, then runs the
    * production `redactPii` chain. The oracle replays the same construction
    * and RE2 replacements in DuckDB, so the regex semantics, replacement
    * order, and tag counting are all cross-engine verified — on text where
    * 0, 1, 2 and 3 redactions all actually occur.
    */
  def piiAudit(docs: DataFrame): DataFrame = {
    val aug = concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" from 10.0."), col("doc_id") % 256, lit(".7")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call +1 415 555 01"), col("doc_id") % 90 + 10))
        .otherwise(lit("")))
    val red = redactPii(aug)
    docs.select(col("doc_id"), red.as("text_redacted"),
      regexp_count(red, lit("<EMAIL>|<IP>|<PHONE>")).cast("long").as("n_pii"))
  }

  /** Per-stratum (language) reproducible sampling at a fixed fraction: each
    * stratum contributes exactly ceil(fraction * stratum_size) docs, chosen
    * by md5-hash order so the sample is stable across runs and engines.
    * Guarantees per-stratum representation that the global hash sample
    * (`sample_hash`) cannot (a 1%-of-corpus language still gets its share).
    *
    * One shuffle (hash on the stratum key) and a per-stratum sort. The
    * stratum key is skewed by construction (a dominant language is the
    * common case); at 100 TB the fix is a composite stratum key
    * (lang x md5-prefix sub-shard) with per-sub-shard quotas summing to the
    * stratum quota — same plan, uniform partitions. The window rides the
    * single exchange; nothing is collected to the driver.
    */
  /** Per-domain quantile pruning — the "perplexity filter" shape: score
    * every document (here: token count), take each domain's p-quantile as
    * its own threshold, keep documents at/above it, report the per-domain
    * census. Per-domain thresholds are the point: a single global cutoff
    * over-prunes whichever domain scores low wholesale (the classic
    * quality-filter failure mode).
    *
    * Scale: the threshold table is O(domains) and attaches by broadcast;
    * documents are never globally sorted — the quantile rides the
    * GK-sketch aggregate (`approx_percentile`, exact at the a8 rank
    * convention while groups fit the accuracy budget, bounded state
    * regardless). At 100 TB the scored projection would be checkpointed
    * once instead of re-scanned for the threshold and the filter pass;
    * at bench scale two scans of a narrow projection beat the
    * materialization.
    */
  def qualityPrune(docs: DataFrame, p: Double = 0.75): DataFrame = {
    val scored = docs.select(col("lang"), size(tokens(col("text"))).as("n_toks"))
    val thr = scored.groupBy("lang").agg(
      count(lit(1)).as("n_total"),
      expr(s"approx_percentile(n_toks, $p, 1000000)").as("thr"))
    scored.join(broadcast(thr), "lang")
      .filter(col("n_toks") >= col("thr"))
      .groupBy("lang")
      .agg(first("thr").as("thr"), first("n_total").as("n_total"),
        count(lit(1)).as("n_kept"), sum("n_toks").as("toks_kept"))
  }

  def stratifiedSample(docs: DataFrame, fraction: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val whole = Window.partitionBy("lang")
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(order))
      .withColumn("n", count(lit(1)).over(whole))
      .filter(col("rn") <= ceil(col("n") * fraction))
      .select("doc_id", "lang")
  }

  /** Token-length histogram in power-of-two buckets — the length
    * distribution a batching/packing stage reads to size its sequence
    * buckets. bucket_lo = largest power of two <= n_tokens, computed
    * exactly via the binary-digit count (no float log2 edge cases at exact
    * powers). Narrow projection + one tiny aggregate: scan speed, and the
    * output is O(log max_len) rows regardless of corpus size.
    */
  def lengthBuckets(docs: DataFrame): DataFrame = {
    val n = size(tokens(col("text")))
    val bitLen = length(conv(col("n_tokens").cast("string"), 10, 2))
    docs.select(n.as("n_tokens"))
      .select(
        pow(lit(2.0), (bitLen - 1).cast("double")).cast("long").as("bucket_lo"),
        col("n_tokens"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))
  }

  /** Intra-document repetition score: the fraction of word n-grams that are
    * repeats of an earlier n-gram in the same document (1 - distinct/total)
    * — the standard boilerplate/degenerate-text signal a corpus filter
    * thresholds on. Pure per-row array expressions (generate positions,
    * slice, distinct) — narrow, codegen'd, scan speed at any corpus size.
    * Documents shorter than `n` tokens have no n-grams and are excluded
    * (score undefined, not 0 — they can't repeat).
    */
  def repetition(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(col("w")) - n),
          i => concat_ws(" ", slice(col("w"), i + 1, lit(n)))).as("ngrams"))
      .select(col("doc_id"),
        size(col("ngrams")).cast("long").as("n_ngrams"),
        size(array_distinct(col("ngrams"))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        exactRatio(col("n_ngrams") - col("n_distinct"), col("n_ngrams"), 6))

  /** Feature-hashing ("hashing trick") text embedding: each token maps to
    * dimension md5[0..3] mod `dim` with sign md5[4] (signed hashing keeps
    * the estimator unbiased); per-doc signed counts are L2-normalized.
    * Output is LONG FORM — one (doc_id, dim, val) row per non-zero-norm
    * dimension — which is both the join-friendly shape for downstream
    * similarity ops and scalar-typed for the cross-engine oracle.
    *
    * Scale: explode -> two codegen'd hash projections -> hash aggregate on
    * (doc_id, dim) -> window-free normalization via a per-doc sum join
    * that reuses the doc_id clustering. Everything is md5-derived, so the
    * embedding is bit-identical in any engine — the property that lets a
    * corpus be embedded incrementally by different systems and still
    * dedupe/join consistently.
    */
  def hashingEmbed(docs: DataFrame, dim: Int = 64): DataFrame = {
    val repart = Spread.byKey(docs, col("doc_id"))
    val toksCol = tokens(col("text"))
    val exploded = repart.select(col("doc_id"), explode(toksCol).as("w"))
    val h = md5(col("w"))
    val counts = exploded
      .select(
        col("doc_id"),
        pmod(conv(substring(h, 1, 4), 16, 10).cast("long"), lit(dim)).cast("int").as("dim"),
        when(substring(h, 5, 1) >= "8", 1.0).otherwise(-1.0).as("sign"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("sign")).as("v"))
    // L2 norm per doc: rides the same doc_id clustering, no extra shuffle
    val norms = counts.groupBy("doc_id")
      .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
    counts.join(norms, "doc_id")
      .filter(col("nrm") > 0)
      .select(col("doc_id"), col("dim"),
        round(col("v") / col("nrm"), 6).as("val"))
  }

  /** RAG/pretraining document chunking: overlapping token windows of
    * `chunkSize` tokens every `stride` tokens (stride < chunkSize =>
    * overlap of chunkSize - stride; tail chunks run shorter, never empty).
    * The retrieval-corpus mate of [[packSequences]]: packing concatenates
    * docs into fixed blocks for training, chunking splits docs into
    * overlapping windows for indexing.
    *
    * Narrow end to end — tokenize, explode the start offsets, slice —
    * so it runs at scan speed over any corpus size with zero shuffles.
    */
  def chunkDocuments(
      docs: DataFrame, chunkSize: Int = 32, stride: Int = 24): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(stride))).as("s"))
      .select(col("doc_id"),
        (col("s") / stride).cast("long").as("chunk_idx"),
        least(lit(chunkSize), size(col("t")) - col("s")).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("t"), col("s") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))

  /** Boilerplate chunk census — the CCNet/RefinedWeb-style line-dedup
    * step, re-expressed over positional token chunks (the fixture corpus
    * has no newline structure; on real documents the chunker would split
    * on lines). A doc's text is cut into NON-overlapping `chunkTokens`
    * windows; a chunk appearing in ≥ `minDf` distinct documents of the
    * same language is boilerplate (headers, footers, nav text, license
    * blocks — and in this fixture, the near-duplicate cliques' shared
    * content). Returns the top `topK` boilerplate chunks by document
    * frequency.
    *
    * Plan: tokenize + chunk are narrow (scan speed); the census is one
    * partial-aggregated groupBy on (lang, chunk) — map-side combine
    * collapses each partition to its distinct chunks before the
    * exchange; the top-k is a TakeOrdered. Nothing pairwise, nothing
    * driver-side: linear at any corpus size.
    */
  def boilerplateChunks(
      docs: DataFrame, chunkTokens: Int = 4, minDf: Long = 2,
      topK: Int = 20): DataFrame =
    positionalChunks(docs, chunkTokens)
      .groupBy("lang", "chunk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("lang").asc, col("chunk").asc)
      .limit(topK)

  /** Per-document boilerplate share against the [[boilerplateChunks]]
    * census: how much of each doc is corpus-repeated content — the
    * per-doc signal a curation pass prunes or strips on. Top `topK` by
    * share (exact fixed-point ratio), doc_id tie-break.
    *
    * The census side is support-bounded (df ≥ minDf ⇒ |census| ≤
    * total chunks / minDf, and in practice boilerplate vocabularies are
    * tiny), so the membership join broadcasts; the per-doc rollups ride
    * the chunk stream's doc_id clustering.
    */
  def boilerplateShare(
      docs: DataFrame, chunkTokens: Int = 4, minDf: Long = 2,
      topK: Int = 20): DataFrame = {
    val chunks = positionalChunks(docs, chunkTokens)
    val bp = chunks
      .groupBy("lang", "chunk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("lang", "chunk")
    val perDoc = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val bpPerDoc = chunks.join(bp, Seq("lang", "chunk"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_bp_chunks"))
    perDoc.join(bpPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_bp_chunks"), lit(0L)).as("n_bp_chunks"),
        exactRatio(coalesce(col("n_bp_chunks"), lit(0L)), col("n_chunks"), 6)
          .as("bp_share"))
      .orderBy(col("bp_share").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Distinct (doc_id, lang, chunk) rows of the non-overlapping
    * `n`-token chunking; docs shorter than one full chunk contribute
    * nothing (partial tails would census as noise).
    */
  private def positionalChunks(docs: DataFrame, n: Int): DataFrame =
    Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), col("lang"), col("t"),
        explode(sequence(lit(0), size(col("t")) - n, lit(n))).as("s"))
      .select(col("doc_id"), col("lang"),
        array_join(slice(col("t"), col("s") + 1, lit(n)), " ").as("chunk"))
      .distinct()

  /** Okapi BM25 relevance of every document against a fixed query-term set
    * — the sparse-retrieval scorer a training pipeline uses for targeted
    * corpus selection (mine the documents most relevant to a domain before
    * paying for dedup/quality passes on everything). k1/b are Robertson's
    * standard defaults.
    *
    * Plan shape at scale: the (doc, term) counts and per-doc lengths ride
    * ONE doc_id exchange (dl derives from the already-reduced tf rows, not
    * a second pass over tokens); df is O(|queryTerms|) and the corpus
    * stats are a 1-row broadcast — so the whole scorer is one shuffle plus
    * bounded broadcasts, nothing corpus-pairwise. The top-k exit is a
    * TakeOrdered, never a global sort.
    */
  def bm25(
      docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    val repart = Spread.byKey(docs, col("doc_id"))
    val tf = repart.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val qtf = tf.filter(col("token").isin(queryTerms: _*))
    val df = qtf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    // operand order mirrors the DuckDB oracle exactly: (b*dl)/avgdl then
    // +(1-b), so the IEEE result is bit-identical cross-engine
    val lenNorm = lit(b) * col("dl") / col("avgdl") + (1.0 - b)
    val termScore = idf * col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * lenNorm)
    qtf.join(dl, "doc_id")
      .join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(termScore), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Canonical text normalization: lowercase, strip non-alphanumeric
    * punctuation to spaces, collapse whitespace runs, trim — plus the md5
    * of the normalized form as the canonical-dedup key (the aggressive
    * sibling of [[fingerprint]], which only normalizes spacing/case).
    * Pure narrow projection: normalization happens at scan speed and the
    * key is pushable into any downstream exact-dedup groupBy.
    *
    * Character classes are spelled in explicit ranges (`[^a-z0-9 ]`, no
    * `\\w`/`\\s` shorthands) so Java-regex Spark and RE2 DuckDB agree
    * byte-for-byte.
    */
  def normalize(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 \\t\\n]", " "),
      "[ \\t\\n]+", " "))
    docs.select(col("doc_id"), norm.as("norm_text"), md5(norm).as("norm_key"))
  }

  /** Token-budget-constrained corpus selection: rank docs by quality
    * (desc, doc_id tiebreak for a total order), admit greedily until the
    * cumulative token count exceeds `budget` — "the best N tokens we can
    * afford", the standard data-selection step when compute, not data,
    * is the binding constraint.
    *
    * The running sum is a global-order window — a single-partition sort
    * at the limit. That is the correct parity formulation; at 100 TB the
    * same plan runs on a pre-aggregated (quality-bucket, tokens) table or
    * via [[graft.operators.GlobalRowNumber]]'s two-pass
    * partition-offset scheme (rank within range partitions, broadcast
    * per-partition token subtotals, add the prefix) — the greedy
    * admission is associative over a range partitioning by quality.
    */
  def tokenBudget(docs: DataFrame, budget: Long): DataFrame = {
    val t = tokens(col("text"))
    val scored = docs.select(col("doc_id"), size(t).as("n_tokens"),
      qualityScore(t).as("quality"))
    val w = Window.orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Temperature-flattened source mix (the multilingual-sampling formula:
    * p_i ∝ n_i^alpha): raise each source's corpus share to `alpha` < 1 and
    * renormalize, boosting low-resource sources. Output per source: raw
    * share, tempered share, and the up/down-sampling factor a pipeline
    * applies to hit it. O(#sources) state after one grouped count; the
    * normalizing constant is a broadcast single row.
    */
  def mixTemperature(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val totals = broadcast(counts.agg(
      sum("n_docs").as("n_total"),
      sum(pow(col("n_docs"), alpha)).as("z")))
    counts.crossJoin(totals)
      .select(col("source"), col("n_docs"),
        exactRatio(col("n_docs"), col("n_total"), 6).as("raw_share"),
        round(pow(col("n_docs"), alpha) / col("z"), 6).as("tempered_share"),
        round(pow(col("n_docs"), alpha) / col("z") /
          (col("n_docs") / col("n_total")), 6).as("sample_factor"))
  }

  /** Nucleus (top-p) vocabulary cutoff: the smallest prefix of the
    * frequency-sorted vocabulary whose cumulative probability mass
    * reaches `p` — tokenizer-vocab and sampling-truncation sizing. A
    * token is kept iff the mass STRICTLY before it is < p (the standard
    * nucleus rule, so the boundary token that crosses `p` is included).
    * The vocab count is one corpus aggregate; the running mass is a
    * window over the O(vocab) aggregated table, not the corpus.
    */
  def vocabTopP(docs: DataFrame, p: Double = 0.5): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val total = broadcast(counts.agg(sum("n").as("total")))
    val w = Window.orderBy(col("n").desc, col("token").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(total)
      .withColumn("__cum", sum(col("n")).over(w))
      .filter((col("__cum") - col("n")) / col("total") < p)
      .select(col("token"), col("n"),
        exactRatio(col("__cum"), col("total"), 6).as("cum_mass"))
  }

  /** One-row dataset card: the corpus summary a release ships with —
    * volume (docs, tokens), composition (sources, languages), quality
    * (mean score, median length), and integrity (exact-duplicate rate
    * over md5 text fingerprints).
    *
    * Plan: one pass to a narrow projection, then a single global
    * aggregate. The three COUNT(DISTINCT)s make Catalyst plan an Expand
    * (a bounded 4× row multiply of the NARROW projection — linear, and
    * the projection is a few columns, not the text). The exact median
    * buffers per-task like [[Features.winsorize]]; `approx_percentile`
    * is the documented 100 TB drop-in with the same plan.
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs
      .select(size(t).cast("long").as("nt"), qualityScore(t).as("q"),
        col("lang"), col("source"), md5(col("text")).as("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(col("lang")).as("n_langs"),
        round(avg("q"), 6).as("mean_quality"),
        expr("percentile(nt, 0.5)").as("median_tokens"),
        count_distinct(col("fp")).as("distinct_texts"))
      .select(col("n_docs"), col("n_tokens"), col("n_sources"),
        col("n_langs"), col("mean_quality"),
        round(col("median_tokens"), 6).as("median_tokens"),
        exactRatio(col("n_docs") - col("distinct_texts"), col("n_docs"), 6)
          .as("exact_dup_rate"))
  }

  /** Curriculum interleave: a global training order where the k-th best
    * document of EVERY source appears before any source's (k+1)-th — the
    * round-robin-by-quality ordering that keeps early training batches
    * source-diverse instead of dominated by whichever source sorts first.
    *
    * The scale trick: rank-within-source is NOT a per-source window (a
    * data-sized partition per source single-tasks at corpus scale).
    * Instead ONE [[graft.operators.GlobalRowNumber]] pass orders the whole
    * corpus by (source, quality desc, doc_id) — parallel range exchange,
    * no single-partition sort — and each source's rank is recovered as
    * `global_id − source_offset`, with offsets a running sum over the
    * O(sources) count table. `global_pos = (rank−1)·n_sources + src_idx`
    * is then pure arithmetic: the interleave needs no second sort at all.
    */
  def curriculumOrder(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"),
      qualityScore(tokens(col("text"))).as("q"))
    val numbered = graft.operators.GlobalRowNumber.withGlobalRowNumber(
      scored, "gid", Seq(col("source").asc, col("q").desc, col("doc_id").asc))
    val w = Window.orderBy("source")
    val srcs = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
      .select(col("source"),
        coalesce(sum("n_src").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("offset"),
        (row_number().over(w) - 1).cast("long").as("src_idx"),
        count(lit(1)).over().cast("long").as("n_sources"))
    numbered.join(broadcast(srcs), "source")
      .select(col("doc_id"), col("source"),
        (col("gid") - col("offset")).as("rank_in_source"),
        ((col("gid") - col("offset") - 1) * col("n_sources") + col("src_idx"))
          .as("global_pos"))
  }

  /** Zipf-tempered negative sampling (word2vec's unigram^0.75): `nDraws`
    * deterministic draws from the tempered unigram distribution, via an
    * integer CDF + the binned [[graft.operators.RangeJoin]] — the
    * contrastive-negatives generator for embedding training.
    *
    * Every step is integer-exact cross-engine: masses are
    * round(cnt^0.75·1e6) longs, the CDF is an integer running sum over the
    * O(vocab) count table (vocab-bounded window, same contract as
    * [[vocabTopP]]), draws are md5-derived uniforms mod total mass, and
    * the CDF lookup is the bin-hashed range join (O(draws + vocab·spanBins),
    * never draws×vocab). The 1-row total-mass collect is bounded state,
    * same contract as the IVF centroid localize.
    */
  def negativeSamples(docs: DataFrame, nDraws: Int = 100): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val massed = counts.withColumn("w",
      round(pow(col("cnt"), 0.75) * 1e6, 0).cast("long"))
    val cw = Window.orderBy("token")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intervals = massed
      .withColumn("cum_hi", sum("w").over(cw) - 1)
      .withColumn("cum_lo", col("cum_hi") - col("w") + 1)
      .select("token", "cnt", "cum_lo", "cum_hi")
    val total = intervals.agg(max("cum_hi")).head().getLong(0) + 1
    val draws = docs.sparkSession.range(nDraws).select(
      col("id").as("draw_id"),
      (conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
        .cast("long") % total).as("u"))
    graft.operators.RangeJoin.pointInInterval(
        draws, "u", intervals, "cum_lo", "cum_hi",
        binWidth = math.max(1L, total / 256), maxBinsPerInterval = 64)
      .select(col("draw_id"), col("u"), col("token"), col("cnt"))
  }

  /** Vocabulary-growth (Heaps-law) checkpoints: cumulative distinct
    * vocabulary and token volume at doc-count deciles — the corpus-scaling
    * diagnostic behind "how much new vocabulary does the next 10 % of
    * data buy", which prices continued crawling/dedup against returns.
    * Sub-linear growth (Heaps V(n) ≈ K·n^β, β < 1) shows as a falling
    * type-token ratio across the rows; the β fit itself is deliberately
    * left out of the certified columns (log regression is libm
    * territory — the [[graft.functions.Hll]] precedent).
    *
    * Checkpoints are integer thresholds `thr_d = max_doc · d / 10`
    * (truncating div, engine-identical). The whole computation rides two
    * facts that make it one-pass at 100 TB: a token's contribution to
    * EVERY checkpoint is determined by its FIRST document (min(doc_id) —
    * one partial-aggregated shuffle on token), and a document's token
    * count contributes to the checkpoints at-or-after it (O(docs)
    * aggregate). The decile table is a 10-row broadcast; nothing after
    * the two aggregates scales with the corpus.
    *
    * Output per decile: `(decile, n_docs, total_tokens, vocab_size,
    * type_token_ratio)` — the ratio in exact fixed point.
    */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.filter(col("text").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    val firstSeen = tok.groupBy("token").agg(min("doc_id").as("first_doc"))
    val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val maxDoc = perDoc.agg(max("doc_id").as("max_doc"))
    val deciles = (1 to 10).map(_.toLong).toDF("decile")
      .crossJoin(broadcast(maxDoc))
      .select(col("decile"), expr("(max_doc * decile) div 10").as("thr"))
    val vocab = firstSeen.crossJoin(broadcast(deciles))
      .filter(col("first_doc") <= col("thr"))
      .groupBy("decile").agg(count(lit(1)).as("vocab_size"))
    val volume = perDoc.crossJoin(broadcast(deciles))
      .filter(col("doc_id") <= col("thr"))
      .groupBy("decile").agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"))
    volume.join(vocab, "decile")
      .select(col("decile"), col("n_docs"), col("total_tokens"),
        col("vocab_size"),
        exactRatio(col("vocab_size"), col("total_tokens"), 6)
          .as("type_token_ratio"))
      .orderBy("decile")
  }
  /** Collocation mining: the `topK` adjacent word pairs by LIFT —
    * observed bigram count over the count expected if first and second
    * positions were independent, `lift = n_xy·N / (n_x·n_y)` with n_x =
    * occurrences of x as a first element, n_y = of y as second, N = total
    * bigrams. The PMI ranking without the log (log is monotone, so the
    * ORDER is identical and the arithmetic stays exact integer +
    * [[graft.functions.ExactRatio]]). `minCount` floors the bigram count
    * so one-off juxtapositions can't top the list.
    *
    * Plan: ONE tokenization pass (keyed lead per doc over token
    * positions) feeds one grouped bigram count; the marginals and total
    * re-aggregate THAT O(vocab²-observed) table, never the corpus. The
    * total is a 1-row broadcast.
    */
  def collocations(
      documents: DataFrame, minCount: Int = 5, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val cxy = toks.withColumn("w2", lead(col("w"), 1).over(w))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("x"), col("w2").as("y"))
      .agg(count(lit(1)).as("n_xy"))
    val cx = cxy.groupBy("x").agg(sum("n_xy").as("n_x"))
    val cy = cxy.groupBy("y").agg(sum("n_xy").as("n_y"))
    val tot = cxy.agg(sum("n_xy").as("nn"))
    cxy.filter(col("n_xy") >= minCount)
      .join(cx, "x").join(cy, "y")
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        exactRatio(col("n_xy") * col("nn"), col("n_x") * col("n_y"), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("x").asc, col("y").asc)
      .limit(topK)
  }

  /** Split assignment with contamination quarantine — the composition a
    * training-data platform actually ships: deterministic
    * train/val/test assignment ([[splitAssign]]), then every HELD-OUT
    * doc sharing ≥ `minShared` distinct word `n`-grams with the TRAIN
    * split is flagged for quarantine ([[Dedup.contamination]]'s join) —
    * an eval split that leaks training text measures memorization, not
    * generalization. Per split: doc count, quarantined count, and the
    * clean share in exact fixed point (train quarantines nothing by
    * definition — it is the contamination SOURCE).
    *
    * Scale shape: the split column is a scan-speed projection; the
    * contamination check is the gram equi-join (each gram shuffles once,
    * never pairwise in docs); the census is one O(docs) aggregate.
    */
  def decontaminatedSplits(
      docs: DataFrame, n: Int = 4, minShared: Long = 2): DataFrame = {
    val splits = splitAssign(docs).select("doc_id", "split").localCheckpoint()
    val withSplit = docs.join(splits, "doc_id")
    val dirty = graft.ops.Dedup.contamination(
      withSplit.filter(col("split") =!= "train"),
      withSplit.filter(col("split") === "train"), n, minShared)
      .select(col("doc_id")).withColumn("__dirty", lit(1L))
    splits.join(dirty, Seq("doc_id"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__dirty"), lit(0L))).as("n_quarantined"))
      .select(col("split"), col("n_docs"), col("n_quarantined"),
        exactRatio(col("n_docs") - col("n_quarantined"), col("n_docs"), 6)
          .as("clean_share"))
      .orderBy("split")
  }

  /** Corpus novelty curve: for each of the first `topK` documents (in
    * doc_id order — the ingestion-order proxy), the share of its distinct
    * word `n`-grams never seen in ANY earlier document. The diversity
    * signal a collection pipeline tracks as the corpus grows — a crawl
    * whose novelty collapses is re-crawling itself ([[vocabGrowth]] is
    * the token-level face of the same question; this is the phrase
    * level).
    *
    * A gram's first document is one min-aggregate over the distinct gram
    * stream (each gram shuffles once — never pairwise in docs); novelty
    * is a per-doc integer count compare, share in exact fixed point.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 4, topK: Int = 50): DataFrame = {
    val grams = graft.ops.Dedup.gramStream(docs, n, Nil).distinct()
    val first = grams.groupBy("gram").agg(min("doc_id").as("first_doc"))
    grams.join(first, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        exactRatio(col("n_novel"), col("n_grams"), 6).as("novelty"))
      .orderBy(col("doc_id").asc)
      .limit(topK)
  }

  /** Held-out OOV rate: token occurrences in the val/test splits whose
    * token never appears in the TRAIN split — the tokenizer/coverage
    * health check against [[splitAssign]]'s deterministic splits (the
    * same splits [[decontaminatedSplits]] audits for leakage; this
    * audits the opposite failure, a vocabulary that does not transfer).
    *
    * One token shuffle against the distinct train vocabulary (left join,
    * nothing data-sized broadcast by construction), one O(splits)
    * census; exact ratios.
    */
  def oovRate(docs: DataFrame): DataFrame = {
    val splits = splitAssign(docs).select("doc_id", "split")
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(splits, "doc_id")
    val trainVocab = toks.filter(col("split") === "train")
      .select("token").distinct().withColumn("__known", lit(1L))
    toks.filter(col("split") =!= "train")
      .join(trainVocab, Seq("token"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("split"), col("n_tokens"), col("n_oov"),
        exactRatio(col("n_oov"), col("n_tokens"), 6).as("oov_rate"))
      .orderBy("split")
  }
}
