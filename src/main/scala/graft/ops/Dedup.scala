package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ExactRatio.exactRatio
import graft.operators.Fixpoint

/** Deduplication operators for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the point of each variant):
  *  - exact: hash-groupBy on a 16-byte digest — one shuffle on a uniform key.
  *  - MinHash+LSH: per-doc signature is a NARROW pass (no shuffle); candidate
  *    generation shuffles on (band, bucket) — cost O(docs x bands), never
  *    O(docs^2). This is the 100 TB path.
  *  - SimHash: one 32-bit signature per doc (explode + codegen'd vote sums,
  *    shuffle-free); near-dup = banded Hamming join with exact recall for
  *    distance <= bands - 1.
  *  - n-gram Jaccard: exact pair scoring, restricted to LSH/blocking
  *    candidates — here blocked on (lang, first token) to stay subquadratic.
  *  - embedding-cosine: blocked on a coarse key (label) — the exact
  *    verification stage behind an ANN candidate generator.
  *
  * Hashing is md5 (bit-identical in any engine), so every operator is
  * DuckDB-oracle-checkable — no engine-private hash functions in semantics.
  */
object Dedup {

  private def toks: Column = TextAnalysis.tokens(col("text"))

  /** Word n-grams of `n` tokens joined by single spaces. Caller must ensure
    * size(tokens) >= n (sequence() would otherwise run backwards).
    */
  def wordShingles(tokens: Column, n: Int): Column =
    transform(
      sequence(lit(0), size(tokens) - n),
      i => concat_ws(" ", slice(tokens, i + lit(1), lit(n))))

  /** Exact dedup: group by content fingerprint, keep the smallest doc_id as
    * the canonical representative. The repartition spreads the
    * normalize+md5 work: compressed text corpora scan as few (often single)
    * splits, so without it the whole fingerprint pass lands on one task.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      // NOT Spread-pinned: one md5 per doc is too light to pay for a
      // pinned full-width exchange (r13: pinning measured +0.2 s at sf0.1)
      .repartition(col("doc_id"))
      .select(TextAnalysis.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental dedup — the ingest-time shape: an INCOMING batch checked
    * against the EXISTING corpus by content fingerprint. Returns one row
    * per incoming doc with the duplicate verdict: `dup_of` = the smallest
    * existing doc_id with identical content (null = genuinely new), plus
    * `dup_in_batch` = the smallest incoming doc_id with the same content
    * (self-dedup within the batch, so a batch containing its own dups
    * can't insert them all as "new").
    *
    * Scale: the batch side is small by definition (one ingest drop); the
    * existing side collapses to DISTINCT fingerprints BEFORE the join —
    * one aggregate over the corpus, then an equi-join the optimizer
    * broadcasts from the batch side's statistics. The corpus is never
    * re-fingerprinted per batch in production: the fp aggregate is exactly
    * the [[exact]] output a warehouse materializes once and merges per
    * drop (TableOps upsert), which this operator's join-side accepts
    * as-is.
    */
  def incremental(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val existingFp = existing
      .repartition(col("doc_id")) // not Spread-pinned — see [[exact]]
      .select(TextAnalysis.fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("dup_of"))
    val batchFp = incoming
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val w = Window.partitionBy("fp")
    batchFp
      .withColumn("dup_in_batch",
        when(min("doc_id").over(w) < col("doc_id"), min("doc_id").over(w)))
      .join(existingFp, Seq("fp"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_in_batch"),
        (col("dup_of").isNull && col("dup_in_batch").isNull).as("is_new"))
  }

  val MinhashFuncs = 16
  val LshBands = 4
  /** Rows per LSH band, derived so changing either constant cannot silently
    * misalign the band slices.
    */
  val RowsPerBand: Int = {
    require(MinhashFuncs % LshBands == 0, "LshBands must divide MinhashFuncs")
    MinhashFuncs / LshBands
  }

  /** LSH bucket-size cap: buckets with more than this many docs are dropped
    * before the candidate self-join. A degenerate bucket (empty/boilerplate
    * docs sharing a signature) would otherwise cost O(bucket^2) pairs — the
    * classic LSH skew-bomb at scale. Docs in an over-full bucket still pair
    * through their other (LshBands - 1) bands.
    */
  val MaxLshBucket = 100

  /** Prime modulus (2^28 + 3) of the affine minhash family. The base hash is
    * 7 hex digits (28 bits) < HashP and the multipliers span [1, HashP), so
    * a_i*h + c_i wraps the modulus many times over — each map is a genuine
    * permutation-like universal hash. (A first attempt used a modulus LARGER
    * than every a_i*h + c_i: the maps never wrapped, stayed monotone, all 16
    * argmins coincided, and LSH degenerated to one effective hash function —
    * candidate pairs blew up 44x.) a_i*h + c_i < 2^56: no int64 overflow in
    * Spark or the DuckDB oracle (whose BIGINT errors instead of wrapping).
    */
  private val HashP = 268435459L
  private val HashA = Array(
    28515171L, 35901835L, 164504155L, 224835733L, 159545229L, 129086779L,
    21665025L, 258530763L, 97673641L, 249307291L, 192052219L, 93357247L,
    95312455L, 108715649L, 24414505L, 158868827L)
  private val HashC = Array(
    142629328L, 83632441L, 250955955L, 96322194L, 250268010L, 34277798L,
    256159453L, 123742706L, 182912951L, 248297849L, 222161486L, 81337654L,
    192810783L, 177914584L, 67363176L, 151635781L)

  /** Exploded (doc_id[, extra...], pos, w) token stream, hash-partitioned by
    * doc_id.
    *
    * Two deliberate scale decisions live here:
    *  - [[Spread.byKey]] (NUMBERED doc_id repartition) BEFORE tokenizing:
    *    document corpora compress well, so scan splits carry far more
    *    per-row compute than bytes — without it the tokenize/hash prep ran
    *    as ONE task at sf0.1, and the earlier un-numbered
    *    `repartition(doc_id)` was silently AQE-coalesced back to a handful
    *    of tasks (r13; see [[Spread]]).
    *  - tokens are EXPLODED rather than kept as an array column: any column
    *    referenced inside a higher-order-function lambda gets inlined by
    *    CollapseProject, so `transform(..., slice(split(text), ...))`
    *    re-ran the full-document regex split once PER SHINGLE (observed:
    *    90+ s of a task's CPU inside String.split). After posexplode the
    *    split runs exactly once per document.
    */
  private def tokenStream(docs: DataFrame, extra: Seq[String]): DataFrame =
    Spread.byKey(docs, col("doc_id"))
      .select((col("doc_id") +: extra.map(col)) :+
        posexplode(toks).as(Seq("pos", "w")): _*)

  /** Word n-gram rows (doc_id[, extra...], gram) built with window `lead`s
    * over the token stream — the sort piggybacks on the doc_id exchange, and
    * every downstream per-doc aggregate is shuffle-free (already clustered).
    */
  private[ops] def gramStream(docs: DataFrame, n: Int, extra: Seq[String]): DataFrame =
    gramStreamOf(tokenStream(docs, extra), n, extra)

  /** [[gramStream]] over an ALREADY-TOKENIZED stream (doc_id[, extra...],
    * pos, w) — the seam that lets [[methodAgreement]] materialize one
    * tokenization and feed every candidate chain from it.
    */
  private[ops] def gramStreamOf(tok: DataFrame, n: Int, extra: Seq[String]): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(k => lead(col("w"), k).over(w).as(s"l$k"))
    tok
      .select((col("doc_id") +: extra.map(col)) ++ (col("w") +: leads): _*)
      .filter(if (n > 1) col(s"l${n - 1}").isNotNull else lit(true))
      .select((col("doc_id") +: extra.map(col)) :+
        concat_ws(" ", col("w") +: (1 until n).map(k => col(s"l$k")): _*).as("gram"): _*)
  }

  /** MinHash signature columns: sig_i = min over shingles of
    * (a_i * h + c_i) mod [[HashP]], where h is the first 7 hex digits of
    * md5(shingle) parsed as a bigint. Each affine map mod a prime is a
    * universal-hash reshuffle of the base hash, so the family behaves like
    * 16 independent permutations while computing ONE md5 per shingle — the
    * engine-portable trick (md5 is bit-identical everywhere; DuckDB parses
    * the same substring with `CAST('0x' || substr(md5(s),1,7) AS BIGINT)`).
    *
    * Why numeric, not the r1 16-salted-md5-string formulation: besides the
    * 16x hash-work cut, BIGINT mins keep the per-doc aggregate inside
    * whole-stage codegen's fixed-width UnsafeRow buffer. Sixteen min(STRING)
    * aggregates forced a sort-based aggregate with interpreted md5 eval —
    * measured 120-220 s at sf0.1 where this plan runs in ~1 s.
    * The per-doc min aggregate needs no shuffle (rows are already clustered
    * by doc_id) — linear at 100 TB.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesOf(tokenStream(docs, Nil))

  private[ops] def minhashSignaturesOf(tok: DataFrame): DataFrame = {
    val base = conv(substring(md5(col("gram")), 1, 7), 16, 10).cast("long")
    gramStreamOf(tok, 3, Nil)
      .select(col("doc_id"), base.as("hb"))
      .groupBy("doc_id")
      .agg(
        min((col("hb") * HashA(0) + HashC(0)) % HashP).as("m0"),
        (1 until MinhashFuncs).map(i =>
          min((col("hb") * HashA(i) + HashC(i)) % HashP).as(s"m$i")): _*)
  }

  /** LSH candidate pairs: docs sharing at least one band bucket of size
    * <= [[MaxLshBucket]]. Returns (doc_a, doc_b) with doc_a < doc_b,
    * distinct.
    *
    * The bucket-size cap is computed as a window count over (band, bucket),
    * which rides the SAME hash exchange the self-join needs — capping costs
    * no extra shuffle. The self-join is merge-hinted, not broadcast: the
    * exploded band stream is O(corpus) and not broadcastable at scale, and
    * with two identical shuffle-join sides ReuseExchange computes the whole
    * signature pipeline ONCE (a broadcast plan — what AQE picks at bench
    * scale — materializes it twice). The window's (band, bucket) sort also
    * already satisfies the merge join's ordering requirement, so no extra
    * sort is planned.
    */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesOf(tokenStream(docs, Nil))

  private[ops] def minhashCandidatesOf(tok: DataFrame): DataFrame =
    lshSelfJoin(minhashSignaturesOf(tok), Nil)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** The shared LSH candidate machinery: band the signatures (bucket =
    * STRUCT of the band's rows — structs hash/compare as fixed-width longs
    * in codegen, where a concat-string bucket paid 4 bigint->string
    * renders + varlen hashing per row), cap over-full buckets via a window
    * count riding the join's own exchange, and self-join merge-hinted so
    * ReuseExchange computes the signature pipeline once. `carry` columns
    * ride the exploded band stream and are readable as `a.<col>`/`b.<col>`
    * on the result. Single-sourced so the candidate and estimate paths
    * cannot drift apart (DedupSpec asserts their pair sets match).
    */
  private def lshSelfJoin(sigs: DataFrame, carry: Seq[String]): DataFrame = {
    val bands = (0 until LshBands).map { j =>
      struct((0 until RowsPerBand).map(r =>
        col(s"m${j * RowsPerBand + r}").as(s"r$r")): _*)
    }
    val exploded = sigs.select((col("doc_id") +: carry.map(col)) :+
      posexplode(array(bands: _*)).as(Seq("band", "bucket")): _*)
    val pruned = exploded
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("bsz") <= MaxLshBucket)
      .drop("bsz")
    val a = pruned.hint("merge").as("a")
    val b = pruned.hint("merge").as("b")
    a.join(b,
      col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
  }

  /** LSH candidate pairs annotated with the MinHash-ESTIMATED Jaccard:
    * est = (matching signature components) / [[MinhashFuncs]] — an
    * unbiased estimator of the true shingle-set Jaccard. This is the pure
    * signature path for corpus-scale near-dedup: similarity comes from 16
    * longs per doc, never from re-reading text, so the verify stage that
    * [[ngramJaccardPairs]] runs exactly is skipped entirely (the standard
    * trade at 100 TB: +-1/16 estimator granularity for a text-free
    * pipeline).
    *
    * The exploded band stream carries the full signature (16 longs) so
    * the estimate rides the SAME self-join exchange the candidates come
    * from — one signature pipeline (exchange-reused across both sides),
    * no extra per-side doc_id join. The wider exchange payload
    * (16 x 8 B/row) is the documented cost of that single-pipeline shape.
    */
  def minhashEstJaccardPairs(docs: DataFrame): DataFrame =
    minhashEstOf(minhashSignatures(docs))

  /** [[minhashEstJaccardPairs]] over a prebuilt (typically memoized,
    * checkpointed) signature table — the estimate depends only on the two
    * signature vectors, so riding [[DedupArtifacts.sigs]] is
    * row-identical to the inline derivation (DedupSpec pins it).
    */
  private[graft] def minhashEstOf(sigs: DataFrame): DataFrame = {
    val matches = (0 until MinhashFuncs).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0)).reduce(_ + _)
    lshSelfJoin(sigs,
        (0 until MinhashFuncs).map(i => s"m$i"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(matches.cast("double") / MinhashFuncs, 6).as("est_jaccard"))
      .distinct()
  }

  /** SimHash signature width (bits) = md5 hex chars used, one bit per
    * nibble (top bit of the nibble, i.e. char >= '8').
    */
  val SimhashBits = 32
  val SimhashBands = 4
  /** Bits per Hamming band; bands partition the signature. */
  val SimhashBandBits: Int = {
    require(SimhashBits % SimhashBands == 0, "bands must divide bits")
    SimhashBits / SimhashBands
  }

  /** SimHash: bit p of the signature is the sign of the per-doc sum of
    * votes (+1 if hex char p of md5(token) >= '8', else -1).
    *
    * Formulated as explode -> 32 codegen'd +/-1 projections -> hash
    * aggregate of 32 int sums (fixed-width buffer, map-side combine), NOT
    * as a higher-order `aggregate` over the token array: Spark evaluates
    * HOF lambdas interpreted, per element. The md5 inside the projections
    * is computed once per token (whole-stage codegen CSE). Rows arrive
    * clustered by doc_id from [[tokenStream]], so the aggregate is
    * shuffle-free — linear at any scale.
    */
  /** Per-doc signed vote sums (s1..s32), the shared core of both simhash
    * renderings. Rows arrive clustered by doc_id from [[tokenStream]], so
    * the aggregate is shuffle-free.
    *
    * Vote p is the top bit of hex nibble p of md5(token) (nibble >= 8 <=>
    * char >= '8'). Rather than 32 per-nibble `substring >= "8"` string
    * compares (each allocating a UTF8String slice), the 32 hex chars are
    * parsed ONCE into four 32-bit words (`conv`, computed once per token
    * under codegen CSE) and every vote is a shift-and-mask on a long —
    * integer ops all the way into the 32 fixed-width sum aggregates.
    */
  private def simhashSumsOf(tok: DataFrame): DataFrame = {
    val h = md5(col("w"))
    val words = (0 until SimhashBits / 8).map(k =>
      conv(substring(h, k * 8 + 1, 8), 16, 10).cast("long").as(s"h$k"))
    val votes = (1 to SimhashBits).map { p =>
      val k = (p - 1) / 8 // which 8-hex-char word
      val c = (p - 1) % 8 // char within the word, 0 = most significant
      (shiftright(col(s"h$k"), 4 * (7 - c) + 3).bitwiseAND(1L) * 2 - 1)
        .cast("int").as(s"v$p")
    }
    tok
      .select(col("doc_id") +: words: _*)
      .select(col("doc_id") +: votes: _*)
      .groupBy("doc_id")
      .agg(
        sum(col("v1")).as("s1"),
        (2 to SimhashBits).map(p => sum(col(s"v$p")).as(s"s$p")): _*)
  }

  def simhash(docs: DataFrame): DataFrame =
    simhashOf(tokenStream(docs, Nil))

  /** [[simhash]] over an already-tokenized stream (the
    * [[DedupArtifacts.tok]] seam). */
  private[graft] def simhashOf(tok: DataFrame): DataFrame =
    simhashSumsOf(tok)
      .select(col("doc_id"),
        concat((1 to SimhashBits).map(p =>
          when(col(s"s$p") > 0, "1").otherwise("0")): _*).as("simhash"))

  /** The same signature packed into one LONG (bit 32-p = sign of s_p, so
    * bit slices correspond 1:1 to [[simhash]]'s string bands). Everything
    * downstream of the signature then runs on integer ops: band buckets
    * are shift-and-mask, Hamming distance is bit_count(a ^ b) — one
    * codegen'd instruction-ish expression instead of 32 substring
    * compares, and the candidate join keys are (int, long) instead of
    * (int, 8-char string).
    */
  private def simhashLong(sums: DataFrame): DataFrame =
    sums
      .select(col("doc_id"),
        (1 to SimhashBits).map(p =>
          when(col(s"s$p") > 0, lit(1L << (SimhashBits - p))).otherwise(0L))
          .reduce(_ + _).as("sig"))

  /** SimHash near-dup candidates: pairs within `maxHamming` bits, found by
    * banding the signature into [[SimhashBands]] contiguous bit blocks and
    * equi-joining on any shared (band, block) — by pigeonhole, two
    * signatures at Hamming distance <= SimhashBands - 1 MUST agree on at
    * least one whole band, so recall is exact for maxHamming <= 3. The
    * exact Hamming distance then filters the candidates (32 codegen'd char
    * compares — no UDF). Same skew guard as MinHash: over-full buckets
    * (all-zero signatures from boilerplate) are capped at [[MaxLshBucket]].
    * Widening [[SimhashBits]] is the scale knob: band buckets grow as
    * 2^(bits/bands), cutting candidate density at higher corpus sizes.
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashCandidatesOf(tokenStream(docs, Nil), maxHamming)

  private[ops] def simhashCandidatesOf(tok: DataFrame, maxHamming: Int): DataFrame = {
    val sh = simhashLong(simhashSumsOf(tok))
    // band j = bits (31-8j)..(24-8j) of the long signature — the same 8-bit
    // blocks as the string formulation's substring bands, as integers
    val bands = (0 until SimhashBands).map(j =>
      shiftright(col("sig"), (SimhashBands - 1 - j) * SimhashBandBits)
        .bitwiseAND((1 << SimhashBandBits) - 1))
    val exploded = sh.select(col("doc_id"), col("sig"),
      posexplode(array(bands: _*)).as(Seq("band", "bucket")))
    val pruned = exploded
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("bsz") <= MaxLshBucket)
      .drop("bsz")
    // merge-hinted for the same exchange-reuse rationale as minhashCandidates
    val a = pruned.hint("merge").as("a")
    val b = pruned.hint("merge").as("b")
    // hamming computed (and thresholded) BEFORE the distinct: a pair found
    // via multiple shared bands re-runs one cheap bit_count, and the dedup
    // exchange carries (long, long, int) instead of two signatures per row
    val hamming = bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over the undirected candidate-pair graph — the
    * final dedup stage that collapses pairwise matches into duplicate
    * CLUSTERS (a~b and b~c must yield one surviving doc, not two
    * independent pair decisions). Returns (doc_id, comp) where comp is the
    * smallest doc_id reachable from doc_id; docs appearing in no pair are
    * not emitted (they are their own trivial cluster).
    *
    * Algorithm: min-label propagation — every node repeatedly takes the
    * minimum label among itself and its neighbors until fixpoint. Each
    * round is ONE shuffle join + ONE aggregate (labels are unioned with the
    * propagated neighbor labels and min-reduced — no second join), and the
    * round count is the graph DIAMETER, not the node count; near-dup graphs
    * are dense little cliques, so 2-3 rounds are typical at any corpus
    * size. The seed labels already fold in the direct neighborhood
    * (min(self, neighbors)), saving a full round. Lineage is truncated per
    * round (localCheckpoint) so round N's plan does not embed rounds
    * 1..N-1 — the standard Spark idiom for iterative graph algorithms —
    * and each superseded checkpoint is unpersisted as soon as the next
    * round materializes, so block storage stays O(1) in the round count.
    * The candidate `pairs` plan itself is materialized ONCE up front (the
    * r2 formulation derived both edge orientations from the raw plan and
    * ran the whole candidate pipeline twice).
    *
    * Rounds run on [[graft.operators.Fixpoint]]; progress = labels that fell.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    val p = pairs.localCheckpoint(true)
    val edges = p
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    Memo.unpersistCheckpoint(p)
    // seed = min(self, direct neighbors): the first propagation round comes
    // free with the label build (edges are bidirectional, so `src` covers
    // every node in the pair graph)
    val seed = edges.groupBy("src")
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("doc_id"), least(col("src"), col("nmin")).as("comp"))
    // label rows carry their label as `old` through the min-aggregate
    // (message rows carry null, which min ignores), so each group's `old`
    // is exactly its previous label
    Fixpoint.iterate("connectedComponents", seed, maxRounds,
        "graph diameter exceeds maxRounds; raise it (truncated labels " +
          "would silently split components)") { (labels, _) =>
      val msgs = edges.join(labels.select(col("doc_id").as("dst"), col("comp")), "dst")
        .select(col("src").as("doc_id"), col("comp"),
          lit(null).cast(labels.schema("comp").dataType).as("old"))
      val merged = labels
        .select(col("doc_id"), col("comp"), col("comp").as("old"))
        .unionByName(msgs)
        .groupBy("doc_id")
        .agg(min(col("comp")).as("comp"), min(col("old")).as("old"))
      (merged, col("comp") < col("old"))
    }.select(col("doc_id"), col("comp"))
  }

  /** Exact word-bigram Jaccard over blocked candidate pairs
    * (block = same lang + same first token; swap in [[minhashCandidates]]
    * for the unblocked LSH path). Keeps pairs with similarity >= minJaccard.
    *
    * Formulated as explode -> equi-join on (block, gram) -> pair-count
    * aggregate rather than `array_intersect` on materialized pairs: the
    * array version is interpreted (no codegen) and does O(pairs x grams)
    * work; this one is a hash join + hash aggregate, shuffles each gram
    * once, and only ever materializes pairs that share at least one gram —
    * which is also every pair that can clear a positive threshold.
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double = 0.2): DataFrame =
    ngramJaccardPairsOf(tokenStream(docs, Seq("lang")), minJaccard)

  private[ops] def ngramJaccardPairsOf(tok: DataFrame, minJaccard: Double): DataFrame = {
    // bigram stream with the block key (lang + first token); tok0 rides the
    // same window sort the gram leads use. Distinct-ification and the size
    // rollup are shuffle-free: rows are already clustered by doc_id.
    //
    // r14 (guide §2.3 narrower types, §3): the (lang, tok0, gram) triple is
    // HASHED to one 64-bit xxhash64 key — every downstream shuffle, sort
    // and merge-compare is then one fixed-width long instead of three
    // variable-length strings (the [[prefixFilterPairs]] convention; there
    // the string form measured 7.3 s vs ~1 s hashed). Tokens contain no
    // whitespace (they come from a \s+ split), so (w, l1) ↔ the old
    // concat_ws gram is a bijection and hashing the 4-tuple directly is
    // equality-equivalent to the old 3-key join modulo 64-bit collisions
    // (~(distinct grams)²/2^64 — certified identical at every test SF by
    // the oracle hash gate, which still computes over the gram STRINGS).
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = Seq(lead(col("w"), 1).over(w).as("l1"),
      first(col("w")).over(w).as("tok0"))
    val grams = tok
      .select(col("doc_id") +: col("lang") +: col("w") +: leads: _*)
      .filter(col("l1").isNotNull)
      .select(col("doc_id"),
        xxhash64(col("lang"), col("tok0"), col("w"), col("l1")).as("gh"))
      .distinct() // per-doc gram set; no shuffle (clustered by doc_id)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    // SORT-MERGE, not broadcast: the exploded gram side is O(corpus) and
    // not broadcastable at scale, and shuffling both (identical) sides on
    // the same keys lets ReuseExchange compute the gram prep ONCE.
    val a = grams.hint("merge").as("a")
    val b = grams.hint("merge").as("b")
    val isects = a.join(b,
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("isect"))
    val sa = sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na"))
    val sb = sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb"))
    // no broadcast hint: `sizes` is per-doc and can be huge at scale;
    // AQE broadcasts it automatically when it is actually small.
    isects.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        // exact fixed-point, not round(double, 6): a union of e.g. 128
        // grams makes odd/128 a true 6-dp tie where engines disagree
        exactRatio(col("isect"), col("na") + col("nb") - col("isect"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** One-sided n-gram containment: |A∩B| / |A| per ordered pair — the
    * near-SUPERSET detector Jaccard misses (a doc quoted whole inside a
    * much larger one has high containment but low Jaccard, because the
    * union is dominated by the big doc). Emits both directions' scores
    * per unordered pair; keep iff either side is ≥ `minContainment`.
    *
    * Same subquadratic plan as [[ngramJaccardPairs]] (blocked self-join on
    * shared grams, merge-hinted for exchange reuse); only the final
    * normalization differs — divide by each side's own gram count instead
    * of the union.
    */
  def containmentPairs(docs: DataFrame, minContainment: Double = 0.5): DataFrame = {
    // same 64-bit gram-hash join keys as [[ngramJaccardPairsOf]] (r14) —
    // see the collision-budget note there
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = Seq(lead(col("w"), 1).over(w).as("l1"),
      first(col("w")).over(w).as("tok0"))
    val grams = tokenStream(docs, Seq("lang"))
      .select(col("doc_id") +: col("lang") +: col("w") +: leads: _*)
      .filter(col("l1").isNotNull)
      .select(col("doc_id"),
        xxhash64(col("lang"), col("tok0"), col("w"), col("l1")).as("gh"))
      .distinct()
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val a = grams.hint("merge").as("a")
    val b = grams.hint("merge").as("b")
    val isects = a.join(b,
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("isect"))
    val sa = sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("na"))
    val sb = sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("nb"))
    isects.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        exactRatio(col("isect"), col("na"), 6).as("containment_a"),
        exactRatio(col("isect"), col("nb"), 6).as("containment_b"))
      .filter(col("containment_a") >= minContainment ||
        col("containment_b") >= minContainment)
  }

  /** Duplicate-cluster representative selection: given the
    * [[connectedComponents]] labeling, keep each cluster's best document
    * (longest by `rankCol`, smallest doc_id on ties — a total order) and
    * report the cluster size. The decision step that turns a dedup
    * clustering into an actual keep/drop list.
    *
    * One aggregate over the O(clustered docs) label table joined to the
    * doc metadata: the argmax is a struct-max (max of (rank, −doc_id)),
    * so no window buffering and full map-side partial aggregation. Docs
    * outside any cluster are implicitly kept and not emitted.
    */
  def keepBest(docs: DataFrame, components: DataFrame,
      rankCol: String = "n_chars"): DataFrame =
    components
      .join(docs.select(col("doc_id"), col(rankCol)), "doc_id")
      .groupBy("comp")
      .agg(
        max(struct(col(rankCol).as("r"), (-col("doc_id")).as("negid")))
          .as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("comp"),
        (-col("__best").getField("negid")).as("keep_doc"),
        col("__best").getField("r").as(rankCol),
        col("n_members"))

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word `n`-grams with ANY benchmark document — the
    * train/eval overlap check every training-data pipeline must run before
    * shipping a corpus (a benchmark answer memorized verbatim inflates eval
    * scores). Returns (doc_id, n_shared) for flagged corpus docs.
    *
    * Scale design: both sides explode to distinct (doc, gram) rows (the
    * per-doc distinct rides the doc_id clustering, shuffle-free), the
    * benchmark side collapses to a distinct gram set, and one equi-join on
    * `gram` + one count-per-doc aggregate do the rest — each gram shuffles
    * once, nothing is ever pairwise in documents. The benchmark side is
    * typically orders of magnitude smaller than the corpus; no broadcast is
    * forced (it is data-sized in principle), AQE picks one when the eval
    * set is actually small. Long grams (default n = 5) make incidental
    * collisions rare, so the join's fan-out tracks true contamination.
    */
  def contamination(
      corpus: DataFrame, benchmark: DataFrame,
      n: Int = 5, minShared: Long = 2): DataFrame = {
    def grams(docs: DataFrame) = // per-doc distinct gram-hash set (r14
      // long keys, [[ngramJaccardPairsOf]] budget); no shuffle
      gramStream(docs, n, Nil)
        .select(col("doc_id"), xxhash64(col("gram")).as("gh")).distinct()
    val bg = grams(benchmark).select(col("gh")).distinct()
    grams(corpus)
      .join(bg, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // input is distinct per (doc, gram)
      .filter(col("n_shared") >= minShared)
  }

  /** Substring-level duplication metric (the span analog of document-level
    * dedup, after Lee et al.'s "Deduplicating Training Data Makes Language
    * Models Better"): for each document, the fraction of its token
    * positions covered by a word `n`-gram that also occurs in ANOTHER
    * document. A doc that merely repeats itself scores 0; a doc whose
    * boilerplate appears corpus-wide scores near 1 — the span-removal
    * candidates document-level dedup cannot see.
    *
    * Pipeline, one logical pass:
    *  1. positioned grams (doc_id, pos, gram) — the leads ride the doc_id
    *     exchange like every gram operator here;
    *  2. grams occurring in >= 2 DISTINCT docs (per-doc distinct is
    *     shuffle-free on the clustering, then one count per gram) — join
    *     back to the positioned stream marks the duplicated occurrences;
    *  3. covered-position union per doc: occurrences are fixed-length
    *     intervals [pos, pos+n), so sorted by pos the i-th occurrence
    *     contributes min(n, pos_i - pos_{i-1}) new tokens — a single lag
    *     window over the doc_id clustering, no island bookkeeping needed.
    *
    * Every shuffle key (doc_id, gram) is the same one the dedup family
    * already uses; nothing is pairwise in documents.
    */
  def spanDupFraction(docs: DataFrame, n: Int = 3): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(k => lead(col("w"), k).over(w).as(s"l$k"))
    val positioned = tokenStream(docs, Nil)
      .select(col("doc_id") +: col("pos") +: col("w") +: leads: _*)
      .filter(col(s"l${n - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        // 64-bit gram hash as the join/census key (r14): the gram string
        // never leaves the scan stage — the ndocs census exchange and the
        // occurrence join shuffle longs ([[ngramJaccardPairsOf]] budget)
        xxhash64(col("w") +: (1 until n).map(k => col(s"l$k")): _*).as("gh"))
    val shared = positioned.select("doc_id", "gh").distinct()
      .groupBy("gh").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("gh")
    val dupOcc = positioned.join(shared, "gh")
    val contrib = dupOcc
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .select(col("doc_id"),
        when(col("prev").isNull, lit(n.toLong))
          .otherwise(least(lit(n.toLong), (col("pos") - col("prev")).cast("long")))
          .as("newly"))
      .groupBy("doc_id").agg(sum(col("newly")).as("dup_tokens"))
    // no repartition: this side stays narrow (the contrib side broadcasts
    // or shuffles, whichever AQE picks from its O(flagged docs) size)
    val sizes = docs
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
    sizes.join(contrib, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        exactRatio(coalesce(col("dup_tokens"), lit(0L)), col("n_tokens"), 6)
          .as("dup_fraction"))
  }

  /** Embedding near-dup: exact cosine over pairs blocked by IVF cell
    * ([[Similarity.ivfAssign]]), keeping pairs above `minCos`.
    *
    * Blocking on the ANN cell bounds the candidate set at O(n^2/C) with C
    * growing with the corpus (vs the r1 `label` blocking, whose fixed
    * cardinality made pairs quadratic at scale). Near-dup vectors land in
    * the same cell with high probability because they are near the same
    * centroid; recall can be raised with multi-probe assignment without
    * changing the verify stage. The exact-cosine scoring is the reusable
    * verification kernel behind any candidate generator.
    */
  val HyperplaneBits = 32
  val HyperplaneBands = 4
  val HyperplaneBandBits: Int = {
    require(HyperplaneBits % HyperplaneBands == 0)
    HyperplaneBits / HyperplaneBands
  }

  /** Deterministic pseudo-random hyperplanes: plane `bit` component `j` is
    * md5(bit_j) mapped to [-1, 1) — engine-portable (no RNG), so the same
    * corpus signed by any engine lands in the same buckets.
    */
  private def hyperplanes(spark: org.apache.spark.sql.SparkSession,
      dim: Int, nBits: Int): DataFrame =
    spark.range(nBits).toDF("bit")
      .select(col("bit").cast("int").as("bit"),
        transform(sequence(lit(1), lit(dim)),
          j => conv(substring(md5(concat(col("bit"), lit("_"), j)), 1, 8), 16, 10)
            .cast("double") / 2147483648.0 - 1.0).as("pvec"))

  /** Random-hyperplane LSH near-dup candidates over embeddings — the
    * vector analog of [[simhashCandidates]] and the second blocking
    * strategy next to the IVF cells of [[embeddingNearDups]]: sign bits of
    * 32 deterministic hyperplane projections form a signature whose bit
    * agreement estimates the angle; banding (4 x 8 bits) buckets vectors
    * that agree on any band; candidates are verified with the exact
    * cosine. Hyperplane LSH needs no centroid quality assumption — recall
    * depends only on the angle, which complements IVF (whose recall dips
    * for pairs straddling a cell boundary).
    *
    * Scale: planes broadcast (nBits x dim doubles); signing is one
    * crossJoin-projection pass, O(n x nBits) narrow rows; the bucket join
    * inherits the [[MaxLshBucket]] skew cap; verification joins the
    * candidate ids back to the corpus — O(candidates), never all-pairs.
    */
  def embeddingLshPairs(embeddings: DataFrame, minCos: Double = 0.35,
      dim: Int = 64): DataFrame = {
    val v = Similarity.withNorm(embeddings)
    val planes = hyperplanes(embeddings.sparkSession, dim, HyperplaneBits)
    val sig = v.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("bit"),
        (graft.functions.VectorFunctions.dot(col("vec"), col("pvec")) > 0).as("pos"))
      .groupBy("vec_id")
      .agg(sum(when(col("pos"), pow(lit(2.0), col("bit")).cast("long"))
        .otherwise(0L)).as("sig"))
    val bands = (0 until HyperplaneBands).map(j =>
      shiftright(col("sig"), j * HyperplaneBandBits)
        .bitwiseAND((1 << HyperplaneBandBits) - 1))
    val exploded = sig.select(col("vec_id"),
      posexplode(array(bands: _*)).as(Seq("band", "bucket")))
    val pruned = exploded
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("bsz") <= MaxLshBucket)
      .drop("bsz")
    val cand = pruned.hint("merge").as("a")
      .join(pruned.hint("merge").as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("vec").as("va"),
        col("norm").as("na")), Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("vec").as("vb"),
        col("norm").as("nb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.cosine(col("va"), col("vb"), col("na"), col("nb")).as("cos_sim"))
      .filter(col("cos_sim") > minCos)
  }

  def embeddingNearDups(
      embeddings: DataFrame, minCos: Double = 0.35,
      nCentroids: Int = 16): DataFrame = {
    val v = Similarity.ivfAssign(embeddings, nCentroids)
    val a = v.as("a")
    val b = v.as("b")
    a.join(b, col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.cosine(
          col("a.vec"), col("b.vec"), col("a.norm"), col("b.norm")).as("cos_sim"))
      .filter(col("cos_sim") > minCos)
  }

  /** Prefix-filtered set-similarity self-join (PPJoin-style): exact
    * word-n-gram Jaccard pairs above `minJaccard`, with candidates
    * generated by joining only each doc's PREFIX — its first
    * `|d| - ceil(t·|d|) + 1` grams under the global rare-first order
    * (document frequency asc, gram asc). The prefix lemma (Chaudhuri et
    * al.) guarantees any pair with Jaccard >= t shares a prefix gram, so
    * unlike MinHash/SimHash banding this candidate generator has EXACT
    * recall — which the oracle proves structurally: the DuckDB side
    * computes ground truth over ALL gram-sharing pairs, so the hash match
    * certifies zero misses.
    *
    * Scale: candidates join on the RAREST grams (df-ascending order), so
    * bucket sizes are small by construction rather than by a cap, and the
    * PPJoin length + positional filters prune candidates IN the join
    * condition before the pair distinct (measured 20.8 → ~10 s steady at
    * sf1, dropping the 10×-data ratio from 6.2× to ~3.4×); the worst
    * case — a clique of identical docs — is output-sensitive
    * (candidates ~ true pairs, which are themselves quadratic in the
    * clique). Verification touches candidate pairs only. The df join and
    * per-doc rank ride the gram/doc exchanges; both prefix sides are
    * merge-hinted so ReuseExchange computes the prep once.
    */
  def prefixFilterPairs(
      docs: DataFrame, minJaccard: Double = 0.6, n: Int = 3): DataFrame = {
    // grams are HASHED to 60-bit longs immediately (the md5-prefix parse
    // idiom minhash uses): every downstream shuffle, window sort, self-join
    // and the verify intersection is then fixed-width numeric instead of
    // ~n-word strings. The prefix lemma only needs SOME global total
    // order, so ranking by (df asc, hash asc) keeps recall exact; a
    // 60-bit collision (~(distinct grams)^2 / 2^61) would merely merge
    // two grams corpus-wide — string arrays measured 7.3 s at sf0.1
    // against this plan's ~1 s, entirely in the interpreted string
    // array_intersect over the candidate set.
    // localCheckpoint: the hashed gram set feeds FOUR consumers (df
    // aggregate, rank window, both verify arrays) — without it each
    // branch re-runs the tokenize/window/md5 pipeline (profiled ~1.2 s
    // per recompute at sf0.1, ~3x in the full DAG). Same device (and
    // same caveat) as connectedComponents' per-round checkpoint: executor
    // loss re-runs the job, acceptable for a batch operator.
    val grams = gramStream(docs, n, Nil)
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("g"))
      .distinct()
      .localCheckpoint()
    val gdf = grams.groupBy("g").agg(count(lit(1)).as("gdf"))
    // df attach + per-doc rank + per-doc size in ONE doc_id window
    // exchange (the size rides the rank's partition as an unordered
    // count); the df join's hash exchange is the SAME exchange gdf's
    // aggregate needs, so ReuseExchange computes it once
    val byDoc = Window.partitionBy("doc_id")
    val pref = grams.join(gdf, "g")
      .withColumn("pos", row_number().over(
        byDoc.orderBy(col("gdf").asc, col("g").asc)))
      .withColumn("sz", count(lit(1)).over(byDoc))
      .filter(col("pos") <= col("sz") - ceil(lit(minJaccard) * col("sz")) + 1)
      .select(col("doc_id"), col("g"), col("pos"), col("sz"))
    // PPJoin's two candidate-side prunes, both exact-recall:
    //  - length filter: J(x,y) >= t forces t·|x| <= |y| (and symmetric);
    //  - positional filter: a truly-similar pair needs overlap
    //    alpha = t/(1+t)·(|x|+|y|), and at the pair's FIRST shared prefix
    //    gram (positions px, py) at most 1 + min(|x|-px, |y|-py) common
    //    grams can still exist — that first-gram row always passes for a
    //    true pair, so pair-level distinct keeps exact recall even though
    //    later shared-gram rows may be pruned.
    // Both bounds are relaxed by 1e-9 so float rounding can only ADMIT a
    // boundary candidate (the exact verify below decides), never drop one.
    val eps = 1e-9
    val alpha = lit(minJaccard / (1 + minJaccard)) *
      (col("a.sz") + col("b.sz")) - eps
    val cand = pref.hint("merge").as("a")
      .join(pref.hint("merge").as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") >= lit(minJaccard) * col("b.sz") - eps &&
          col("b.sz") >= lit(minJaccard) * col("a.sz") - eps &&
          (lit(1) + least(col("a.sz") - col("a.pos"),
            col("b.sz") - col("b.pos"))) >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify against per-doc gram-hash ARRAYS, built once on the
    // gram stream's existing doc_id clustering (shuffle-free aggregate)
    // and joined only to the CANDIDATE pairs; the set intersection is a
    // narrow numeric array expression over O(candidates) rows, not
    // another corpus-wide gram join
    val arrays = grams.groupBy("doc_id")
      .agg(sort_array(collect_list(col("g"))).as("gs"),
        count(lit(1)).as("sz"))
    val isect = size(array_intersect(col("ga"), col("gb"))).cast("long")
    // the exact-verify joins are pinned to full shuffle width
    // ([[Spread.byKey]]): the candidate-pair exchange is bytes-small but
    // each surviving row pays an O(|ga|+|gb|) array intersection, so the
    // AQE-coalesced 1-task verify stage held ~40% of the query's critical
    // path at sf0.1 (1.26 s single-task CPU, StageProf). Pinning the
    // candidate side pins the whole join (AQE only coalesces a join when
    // every leaf shuffle is coalescible).
    Spread.byKey(cand, col("doc_a"))
      .join(arrays.select(col("doc_id").as("doc_a"), col("gs").as("ga"),
        col("sz").as("na")), "doc_a")
      .transform(Spread.byKey(_, col("doc_b")))
      .join(arrays.select(col("doc_id").as("doc_b"), col("gs").as("gb"),
        col("sz").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        exactRatio(isect, col("na") + col("nb") - isect, 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Power-of-two cell-count ladder shared with the oracle SQL: C =
    * smallest entry with C^2 >= n. Integer arithmetic only, so both
    * engines compute the identical C (a float `ceil(log2(sqrt(n)))` can
    * disagree across engines exactly at power-of-two boundaries).
    */
  private[ops] val CellLadder: Seq[Int] =
    Seq(16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768, 65536)

  /** [[embeddingNearDups]] with the cell count GROWING with the corpus:
    * C = smallest power of two with C^2 >= n (floor 16), capping expected
    * intra-cell pair work at ~n^1.5 where the fixed C=16 curve is n^2/16
    * — the sf1 stress run measured that fixed curve at 10.2x cost for 10x
    * data, which this variant is the production answer to. The corpus
    * count is a single 1-row action (the same bounded-driver-state class
    * as Broadcasting's probe), and at 65536 cells the ladder serves
    * corpora to ~4.3e9 vectors before it would need another rung.
    */
  def embeddingNearDupsAdaptive(
      embeddings: DataFrame, minCos: Double = 0.35): DataFrame = {
    val n = embeddings.count()
    val c = CellLadder.find(p => p.toLong * p >= n).getOrElse(CellLadder.last)
    embeddingNearDups(embeddings, minCos, nCentroids = c)
  }

  /** Edit-distance near-dup pairs over each document's normalized
    * `width`-char prefix key, PassJoin-style (Li et al., segment
    * signatures): all pairs with `levenshtein(key_a, key_b) <= k`.
    *
    * Candidate generation is EXACT-recall by the pigeonhole lemma: k
    * edits between two equal-length strings leave at least one of k+1
    * disjoint segments of A untouched, and the net indel shift before it
    * is at most k — so B contains that segment verbatim at a start
    * offset within ±k of its home position. Each doc therefore emits its
    * k+1 fixed segments as PROBES and, per segment slot, the 2k+1
    * shifted same-length windows as INDEX entries; a (probe == index)
    * equi-join on (slot, substring) yields a candidate superset, and the
    * final `levenshtein <= k` filter is the exact semantics itself. The
    * oracle certifies recall structurally (it computes ALL pairs
    * directly), the same proof shape as [[prefixFilterPairs]].
    *
    * Keys are `rpad(lower(substring(trim(text), 1, width)), width, '#')`
    * — fixed width keeps the lemma's equal-length precondition total
    * (the fixture's shortest doc already exceeds `width`, so padding is
    * a totality guard, not a semantic choice).
    *
    * Scale: per-doc emission is (k+1) + (k+1)(2k+1) bounded rows — O(n)
    * — and the join keys are `width/(k+1)`-char substrings, far more
    * selective than q-grams (a 10-char segment match is already a
    * near-dup signal), so candidate buckets are small without a cap.
    * Verification runs on candidates only; `levenshtein` is a codegen'd
    * built-in on both engines. The key set feeds probe, index, and
    * verify — localCheckpoint materializes the (narrow, n × width bytes)
    * relation once, the same three-consumer device [[prefixFilterPairs]]
    * documents.
    */
  def editDistancePairs(
      docs: DataFrame, k: Int = 3, width: Int = 40): DataFrame = {
    require(width % (k + 1) == 0, s"width=$width must divide into ${k + 1} segments")
    val segLen = width / (k + 1)
    // [[Spread.byKey]] before the checkpoint: a single-split corpus scan
    // otherwise materializes ONE partition, serializing every downstream
    // stage (probe/index explode, candidate join, levenshtein verify all
    // profiled 1-task at sf0.1, the verify alone 1.27 s of single-core CPU)
    val keys = Spread.byKey(docs, col("doc_id")).select(col("doc_id"),
      rpad(lower(substring(trim(col("text")), 1, width)), width, "#").as("key"))
      .localCheckpoint()
    val probes = keys.select(col("doc_id"), posexplode(array(
      (0 to k).map(j => substring(col("key"), j * segLen + 1, segLen)): _*))
      .as(Seq("slot", "sub")))
    val index = keys.select(col("doc_id"), explode(array(
      (for {
        j <- 0 to k
        d <- -k to k
        start = j * segLen + 1 + d
        if start >= 1 && start + segLen - 1 <= width
      } yield struct(lit(j).as("slot"),
        substring(col("key"), start, segLen).as("sub"))): _*)).as("w"))
      .select(col("doc_id"), col("w.slot").as("slot"), col("w.sub").as("sub"))
      .distinct()
    val cand = probes.as("a")
      .join(index.as("b"),
        col("a.slot") === col("b.slot") && col("a.sub") === col("b.sub") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    // verify joins pinned to full width (the [[prefixFilterPairs]] device):
    // each candidate pays an O(width²) levenshtein, so an AQE-coalesced
    // 1-task verify serializes the query's dominant CPU
    Spread.byKey(cand, col("doc_a"))
      .join(keys.select(col("doc_id").as("doc_a"), col("key").as("ka")), "doc_a")
      .transform(Spread.byKey(_, col("doc_b")))
      .join(keys.select(col("doc_id").as("doc_b"), col("key").as("kb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ka"), col("kb")).as("edit_dist"))
      .filter(col("edit_dist") <= k)
  }
  /** Near-dup pairs by TF-IDF-weighted sparse cosine — the lexical
    * similarity the minhash/simhash/jaccard legs approximate, computed
    * EXACTLY over quantized weights: idf is truncated to integer
    * millis (`trunc(ln(N/df)·1e3)` — identical truncation of the
    * identical double both engines), so term weights, dot products,
    * and squared norms are all BIGINT and the only doubles are the
    * final per-pair sqrt/divide (a single deterministic expression;
    * an UNQUANTIZED rendering would sum doubles in shuffle order —
    * engine-nondeterministic, invisible until a hash mismatch).
    *
    * Terms are word BIGRAMS (the unigram vocabulary is too small/common
    * to discriminate — every doc shares it); weights are per-doc gram
    * frequencies × quantized idf.
    *
    * RESIDUAL CROSS-ENGINE RISK (documented, accepted): `trunc(ln(N/df)
    * ·1e3)` is evaluated by each engine's libm. Unlike eval_ndcg's rank
    * weights, idf's argument domain is DATA-DEPENDENT (one value per
    * surviving df), so no Scala-side literal table can replace the call.
    * ln(N/df)·1000 is never exactly integral for df < N (Lindemann:
    * ln of a rational ≠ a nonzero rational), so divergence needs the
    * true value within ~1 ulp of an integer boundary AND the two libms
    * rounding to opposite sides — measure ~2^-52 per distinct df, i.e.
    * ~|df domain|·2^-52 overall. DedupSpec pins the FIXTURE safe
    * explicitly (every surviving ln(N/df)·1000 sits > 1e-6 from its
    * truncation boundary), and GenScale's ×k replication preserves the
    * N/df ratios exactly, so the sf1 gate inherits the same certificate.
    *
    * Scale: the shared-term sort-merge self-join is inherently
    * quadratic in per-term df, so this operator is the exact RESCORING
    * stage — run it on a candidate pool (an LSH/minhash block union, a
    * shard), never the raw corpus; the df CAP (terms in more than
    * N/`dfCapShare` of the pool) and `minShared` bound the fan-out
    * inside the pool, and both self-join sides reuse one exchange.
    */
  def tfidfCosinePairs(
      docs: DataFrame, dfCapShare: Int = 10, minShared: Int = 3,
      topK: Int = 20): DataFrame = {
    require(dfCapShare >= 2, s"tfidfCosinePairs: dfCapShare=$dfCapShare")
    // (lang, gram) hashed to one 64-bit key (r14): the df census, the idf
    // attach and the corpus-wide self-join all shuffle/sort a fixed-width
    // long instead of a language tag + bigram string — the
    // [[ngramJaccardPairsOf]] convention and collision budget. The per-doc
    // tf groupBy stays shuffle-free (doc_id ⊂ its grouping keys rides the
    // gramStream clustering) exactly as before.
    val tf = gramStream(docs, 2, Seq("lang"))
      .select(col("doc_id"), xxhash64(col("lang"), col("gram")).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("gh").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val kept = dft.crossJoin(broadcast(nDocs))
      .filter(col("df") * dfCapShare <= col("n_docs"))
      .withColumn("idf_e3",
        expr("CAST(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) " +
          "* 1000 AS BIGINT)"))
      .select("gh", "idf_e3")
    val weighted = tf.join(kept, Seq("gh"))
      .select(col("doc_id"), col("gh"),
        (col("tf") * col("idf_e3")).as("wt"))
    val norms = weighted.groupBy("doc_id")
      .agg(sum(col("wt") * col("wt")).as("nrm2"))
    val a = weighted.hint("merge").as("a")
    val b = weighted.hint("merge").as("b")
    val dots = a.join(b,
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.wt") * col("b.wt")).as("dot"),
        count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm2").as("na")),
        Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm2").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(topK)
  }

  /** Cross-source contamination matrix: for every pair of corpus sources,
    * the number of distinct word `n`-grams they share and the overlap
    * coefficient shared/min(|A|, |B|) — the provenance audit run before
    * trusting "independent" crawls as independent (mirror sites, syndicated
    * feeds, and re-crawls show up as high-overlap source pairs; the
    * source-pairwise face of [[contamination]]).
    *
    * Scale: the join keys on the GRAM, and each gram's fan-out is
    * C(sources containing it, 2) — bounded by the SOURCE CATALOG, never
    * the corpus (20 sources ⇒ ≤ 190 pairs per gram). One distinct pass
    * over (source, gram), one merge-hinted self-join whose sides reuse
    * the exchange, O(source²) output. Top-k is a TakeOrdered.
    */
  def sourceOverlap(
      docs: DataFrame, n: Int = 4, topK: Int = 20): DataFrame = {
    // gram hashed to a 64-bit long BEFORE the corpus-wide distinct and the
    // self-join (r14): both the (source, gram) distinct exchange and the
    // merge join then move/sort fixed-width longs instead of ~4-word
    // strings — the [[ngramJaccardPairsOf]] convention and collision budget
    val grams = gramStream(docs, n, Seq("source"))
      .select(col("source"), xxhash64(col("gram")).as("gh")).distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val pairs = grams.hint("merge").as("a")
      .join(grams.hint("merge").as("b"),
        col("a.gh") === col("b.gh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
    pairs
      .join(sizes.select(col("source").as("source_a"), col("n_grams").as("na")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n_grams").as("nb")),
        "source_b")
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        col("na"), col("nb"),
        exactRatio(col("shared_grams"), least(col("na"), col("nb")), 6)
          .as("overlap_coef"))
      .orderBy(col("shared_grams").desc, col("source_a").asc,
        col("source_b").asc)
      .limit(topK)
  }

  /** Exact-dedup yield report: per language, documents and tokens before
    * vs after keep-smallest-id exact dedup (fingerprint = md5 of the
    * normalized text, the [[exact]] key), with the token-removal share in
    * exact fixed point — the cost/benefit line a curation run publishes
    * ("dedup dropped 31% of source X's tokens") before anyone signs off
    * on the cleaned corpus. Dedup is CONTENT-global (a dup pair spanning
    * languages keeps one doc, attributed to the keeper's language).
    *
    * One narrow fingerprint projection, one min-aggregate per fingerprint
    * (group count = distinct contents), one semi-join back, two O(langs)
    * rollups. Linear; nothing pairwise.
    */
  def dedupYield(docs: DataFrame): DataFrame = {
    val f = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val keepers = f.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
    val kept = f.join(keepers, Seq("fp", "doc_id"), "left_semi")
    val before = f.groupBy("lang").agg(
      count(lit(1)).as("docs_before"), sum(col("n_tokens")).as("tokens_before"))
    val after = kept.groupBy("lang").agg(
      count(lit(1)).as("docs_after"), sum(col("n_tokens")).as("tokens_after"))
    before.join(after, Seq("lang"), "left")
      .select(col("lang"), col("docs_before"),
        coalesce(col("docs_after"), lit(0L)).as("docs_after"),
        col("tokens_before"),
        coalesce(col("tokens_after"), lit(0L)).as("tokens_after"),
        exactRatio(
          col("tokens_before") - coalesce(col("tokens_after"), lit(0L)),
          col("tokens_before"), 6).as("token_removal_share"))
      .orderBy(col("lang").asc)
  }

  /** Cross-method agreement census over candidate-pair sets — do MinHash,
    * SimHash, and n-gram Jaccard find the SAME near-duplicates? For every
    * method pair: set sizes, intersection, and pair-set Jaccard. The
    * meta-audit a dedup pipeline publishes before anyone trusts one
    * method's recall claims against another's.
    *
    * Each method's (doc_a, doc_b) set is distinct-ified and materialized
    * once (localCheckpoint) — the candidate generation dominates; the
    * census itself is one equi-join + three 1-row aggregates per method
    * pair (reviewed broadcasts).
    */
  /** Cross-method candidate agreement over ONE shared tokenization: do
    * MinHash LSH, n-gram Jaccard, and SimHash find the same pairs? The
    * naive composition ([[pairSetAgreement]] over three independently
    * built chains) re-scans, re-splits, and re-explodes the corpus three
    * times — and tokenization dominates those chains' cost (the regex
    * split is the documented CPU hot spot in [[tokenStream]]'s scaladoc).
    * Here the (doc_id, lang, pos, w) stream is materialized ONCE
    * (localCheckpoint — partitioning and ordering survive into the
    * LogicalRDD, so the per-doc windows and aggregates stay shuffle-free)
    * and every chain derives from it. Answers are identical by
    * construction: the chains run the same plans over the same stream
    * (DedupSpec pins agreement with the independent composition).
    */
  def methodAgreement(
      docs: DataFrame, maxHamming: Int = 3,
      minJaccard: Double = 0.2): DataFrame = {
    val tok = tokenStream(docs, Seq("lang")).localCheckpoint()
    val plain = tok.select("doc_id", "pos", "w")
    pairSetAgreement(Seq(
      "minhash" -> minhashCandidatesOf(plain),
      "ngram" -> ngramJaccardPairsOf(tok, minJaccard),
      "simhash" -> simhashCandidatesOf(plain, maxHamming)))
  }

  /** [[methodAgreement]] over the prebuilt artifacts: all three candidate
    * sets come from [[DedupArtifacts]]' checkpointed members, so the
    * meta-audit pays only the pair-set algebra — the three candidate
    * chains (the documented cost center) are the family's shared builds.
    * Row-identical to [[methodAgreement]] at the default parameters
    * (DedupSpec pins it); non-default thresholds need the inline form.
    */
  def methodAgreementOf(a: DedupArtifacts): DataFrame =
    pairSetAgreement(Seq(
      "minhash" -> a.minhashPairs,
      "ngram" -> a.ngramPairs,
      "simhash" -> a.simhashPairs))

  // ---- build-once dedup artifacts -----------------------------------------

  /** Tokenization, MinHash signatures, and candidate-pair sets as
    * BUILD-ONCE MATERIALIZED ARTIFACTS — [[Graph.InteractionGraph]]'s memo
    * discipline applied to the dedup family (r10 verdict task 7). Before
    * r11, five suite queries (`dedup_minhash_lsh`, `dedup_minhash_est`,
    * `dedup_components`, `dedup_keep_best`, `dedup_method_agreement`) each
    * re-tokenized the corpus and re-ran the banded signature self-join;
    * the family was 5 of the bench's top-15 (≈14 s at sf0.1). A production
    * dedup pipeline materializes its candidate graph once and serves
    * clustering, canonicalization, and audits from it — this class is that
    * artifact.
    *
    * Every member is LAZY (a consumer pays only for the pieces it reads)
    * and localCheckpointed on first use; derived members build from the
    * already-checkpointed upstream member, so e.g. [[components]] never
    * re-runs the signature join. Row-identical to the operators' inline
    * derivations at the suite's default parameters (DedupSpec pins each).
    * Each checkpoint goes to `own`, the [[Memo]] entry's, so invalidation
    * releases them.
    */
  final class DedupArtifacts private[graft] (
      docs: DataFrame, own: DataFrame => DataFrame) {
    private def ck(df: DataFrame): DataFrame = own(df.localCheckpoint())

    /** Lang-carrying token stream `(doc_id, lang, pos, w)`, clustered by
      * doc_id and checkpointed — the regex split (the family's documented
      * CPU hot spot) runs once per corpus, not once per query.
      */
    lazy val tok: DataFrame = ck(tokenStream(docs, Seq("lang")))

    private def plain: DataFrame = tok.select("doc_id", "pos", "w")

    /** MinHash signature table `(doc_id, m0..m15)`, checkpointed. */
    lazy val sigs: DataFrame = ck(minhashSignaturesOf(plain))

    /** Distinct banded-LSH candidate pairs `(doc_a, doc_b)` from [[sigs]],
      * checkpointed. */
    lazy val minhashPairs: DataFrame = ck(
      lshSelfJoin(sigs, Nil)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct())

    /** Transitive duplicate clusters over [[minhashPairs]], checkpointed. */
    lazy val components: DataFrame = ck(connectedComponents(minhashPairs))

    /** SimHash banded-Hamming pairs at the suite default (maxHamming 3),
      * checkpointed. */
    lazy val simhashPairs: DataFrame = ck(simhashCandidatesOf(plain, 3))

    /** Blocked n-gram Jaccard pairs at the suite default (minJaccard 0.2),
      * checkpointed. */
    lazy val ngramPairs: DataFrame = ck(ngramJaccardPairsOf(tok, 0.2))
  }

  /** The dedup artifacts for `inputKey` (the caller's corpus directory),
    * built at most once per session: a [[Memo]] entry of the `dedup`
    * family, under its staleness contract.
    */
  def dedupArtifactsFor(
      inputKey: String, docs: => DataFrame): DedupArtifacts = {
    val d = docs
    Memo(d.sparkSession, "dedup", inputKey)(new DedupArtifacts(d, _))
  }

  def pairSetAgreement(methods: Seq[(String, DataFrame)]): DataFrame = {
    require(methods.size >= 2, "pairSetAgreement: need at least 2 methods")
    val sets = methods.map { case (n, df) =>
      n -> df.select(col("doc_a"), col("doc_b")).distinct().localCheckpoint()
    }
    sets.combinations(2).map { case Seq((na, a), (nb, b)) =>
      val common = a.join(b, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_common"))
      val union = col("n_a") + col("n_b") - col("n_common")
      a.agg(count(lit(1)).as("n_a"))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("n_b"))))
        .crossJoin(broadcast(common))
        .select(lit(s"$na~$nb").as("method_pair"), col("n_a"), col("n_b"),
          col("n_common"),
          // both sets empty -> undefined agreement, NULL not div-by-zero
          when(union > 0L, exactRatio(col("n_common"), union, 6))
            .otherwise(lit(null).cast("double")).as("pair_jaccard"))
    }.reduce(_ unionByName _)
      .orderBy("method_pair")
  }
}
