package graft

import org.apache.spark.sql.functions.{col, concat_ws, count, lead, lit, posexplode}
import graft.ops.{Dedup, Memo}

/** Dedup-operator specs beyond the DuckDB oracles: signature-level
  * properties and the skew guards that only show up on adversarial corpora
  * (the oracles' generated documents are benign).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("minhash signatures: identical docs share all sigs, disjoint docs none") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).size == Dedup.MinhashFuncs)
  }

  test("minhash estimated jaccard: identical docs estimate 1.0, " +
    "estimates bounded in [0,1], pair set = candidate set") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1/2
      (4L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
    val est = Dedup.minhashEstJaccardPairs(docs)
      .as[(Long, Long, Double)].collect()
    val byPair = est.map(r => (r._1, r._2) -> r._3).toMap
    assert(byPair((1L, 2L)) == 1.0, "identical docs must estimate 1.0")
    assert(est.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    // annotated pairs are exactly the LSH candidates (same pipeline)
    val cand = Dedup.minhashCandidates(docs)
      .as[(Long, Long)].collect().toSet
    assert(byPair.keySet == cand)
  }

  test("degenerate corpus: 1000 identical docs do not go quadratic") {
    // all 1000 docs share every band bucket; without the MaxLshBucket cap
    // the self-join would emit 499,500 pairs from ONE bucket — the LSH
    // skew-bomb. The cap drops the oversized bucket entirely.
    val docs = (1 to 1000).map(i => (i.toLong,
      "the same boilerplate text repeated for every document in this corpus"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(docs).count() == 0)
    assert(Dedup.simhashCandidates(docs).count() == 0)
  }

  test("Zipfian boilerplate corpus: candidates stay O(docs x bands), " +
    "over-cap buckets defused, under-cap cliques intact") {
    // Template k (Zipf rank k) repeats floor(300/k) times: ranks 1-2 are
    // over MaxLshBucket (300, 150 copies -> skew bombs), rank 3 sits AT the
    // cap (100), ranks 4+ are honest duplicate cliques. Doc ids encode the
    // template (k * 10000 + i) so provenance is checkable per pair.
    val ranks = 1 to 8
    val counts = ranks.map(k => k -> 300 / k).toMap
    val docs = ranks.flatMap { k =>
      val body = (1 to 12).map(w => s"zipf${k}word$w").mkString(" ")
      (1 to counts(k)).map(i => (k * 10000L + i, body))
    }.toDF("doc_id", "text")
    val nDocs = counts.values.sum // 763
    val pairs = Dedup.minhashCandidates(docs)
      .select((col("doc_a") / 10000).cast("int").as("ta"),
        (col("doc_b") / 10000).cast("int").as("tb"))
      .groupBy("ta", "tb").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    def clique(c: Int): Long = c.toLong * (c - 1) / 2
    // over-cap templates produce ZERO candidate pairs (every band bucket
    // oversize -> dropped whole; exact dedup owns identical docs)
    assert(!pairs.contains((1, 1)) && !pairs.contains((2, 2)),
      s"over-cap buckets must be defused, got $pairs")
    // at-cap and below: the full clique survives
    (3 to 8).foreach(k => assert(pairs((k, k)) == clique(counts(k)),
      s"template $k clique truncated: ${pairs.get((k, k))}"))
    // no cross-template collisions (disjoint vocabularies, 28-bit buckets)
    assert(pairs.keys.forall { case (a, b) => a == b })
    // the candidate volume respects the banded bound O(docs x bands x cap),
    // and the cap removed the quadratic head: rank-1/2 alone would have
    // added C(300,2) + C(150,2) = 56,025 pairs to the 12,247 that remain —
    // a recorded 5.6x defusal that grows with corpus size (the head
    // template's clique is quadratic in N, the cap's survivors linear)
    val total = pairs.values.sum
    val uncappedAnalytic = ranks.map(k => clique(counts(k))).sum
    assert(total <= nDocs.toLong * Dedup.LshBands * Dedup.MaxLshBucket / 2)
    assert(uncappedAnalytic - total == clique(300) + clique(150),
      s"defused margin drifted: $uncappedAnalytic vs $total")
    assert(uncappedAnalytic > 5 * total, "the cap should defuse >5x the pairs")
  }

  test("duplicate clusters below the bucket cap still pair (minhash + simhash)") {
    val dups = (1 to 10).map(i => (i.toLong,
      "identical duplicated document body with plenty of shared tokens here"))
    val others = (11 to 40).map(i => (i.toLong,
      s"unique filler number $i carrying distinct words q${i}a q${i}b q${i}c q${i}d q${i}e"))
    val docs = (dups ++ others).toDF("doc_id", "text")
    val dupPairs = (for { a <- 1 to 10; b <- a + 1 to 10 }
      yield (a.toLong, b.toLong)).toSet

    val mh = Dedup.minhashCandidates(docs)
      .as[(Long, Long)].collect().toSet
    assert(dupPairs.subsetOf(mh))

    val sh = Dedup.simhashCandidates(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(dupPairs.subsetOf(sh))
  }

  test("simhash pairs report exact hamming distance, capped at the threshold") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "completely unrelated text about spacecraft telemetry and orbital mechanics data"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashCandidates(docs, maxHamming = 6)
      .as[(Long, Long, Int)].collect().toSet
    // near-identical docs must surface with a small distance; the unrelated
    // doc must not pair with either at distance <= 6
    assert(got.exists { case (a, b, h) => a == 1L && b == 2L && h <= 6 })
    assert(!got.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("connectedComponents: chains collapse transitively to the min id") {
    // components: {1,2,3,4} via a chain (needs >1 propagation round),
    // {10,11}, and 99 paired with nobody relevant -> singleton pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 99L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 99L -> 20L))
  }

  test("connectedComponents converges on a long path (diameter > 2)") {
    val n = 12
    val path = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(path).as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1 to n).map(_.toLong).toSet)
  }

  test("band constants stay consistent") {
    assert(Dedup.RowsPerBand * Dedup.LshBands == Dedup.MinhashFuncs)
    assert(Dedup.SimhashBandBits * Dedup.SimhashBands == Dedup.SimhashBits)
    assert(Dedup.HyperplaneBandBits * Dedup.HyperplaneBands == Dedup.HyperplaneBits)
  }

  test("embedding hyperplane LSH: verified pairs, canonical order, repartition-stable") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.embeddingLshPairs(emb)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    // every emitted pair passed the exact-cosine verification and is
    // canonically ordered (no (b,a) duplicates possible)
    assert(pairs.forall { case (a, b, cos) => a < b && cos > 0.35 })
    val again = Dedup.embeddingLshPairs(emb.repartition(7))
      .as[(Long, Long, Double)].collect().toSet
    assert(again == pairs.toSet, "bucketing is md5-deterministic, not partition-dependent")
  }

  test("spanDupFraction: interval union of cross-doc grams; self-repeats score 0") {
    val docs = Seq(
      (1L, "a b c d e"),          // all 3 grams shared with doc 4
      (2L, "a b c x y"),          // only the leading gram is shared
      (3L, "q r s t u v"),        // nothing shared
      (4L, "a b c d e"),          // exact dup of doc 1
      (5L, "m n o m n o m n o")   // repeats ITSELF only -> not duplicated
    ).toDF("doc_id", "text")
    val got = Dedup.spanDupFraction(docs, n = 3)
      .select("doc_id", "n_tokens", "dup_tokens", "dup_fraction")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: occurrences at pos 0,1,2 -> 3 + 1 + 1 = 5 of 5 tokens covered
    assert(got(1L) == ((5L, 5L, 1.0)))
    assert(got(2L) == ((5L, 3L, 0.6)))
    assert(got(3L) == ((6L, 0L, 0.0)))
    assert(got(4L) == ((5L, 5L, 1.0)))
    assert(got(5L) == ((9L, 0L, 0.0)))
  }

  test("prefixFilterPairs: exact recall vs the naive all-pairs join") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g z"), // 5 of 9 union grams shared with 1 -> 0.555
      (3L, "a b c d e f g h"), // exact dup of 1 -> jaccard 1.0
      (4L, "p q r s t u v w"), // disjoint
      (5L, "p q r s t u v w x") // 6/7 grams of 4 shared -> 6/8 = 0.75
    ).toDF("doc_id", "text")
    val got = Dedup.prefixFilterPairs(docs, minJaccard = 0.6, n = 2)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // bigram truth: (1,3) identical -> 1.0; (2,3) mirrors (1,2) -> 0.75;
    // (4,5): 7 shared bigrams of union 8 -> 0.875; all >= 0.6
    assert(got.map(p => (p._1, p._2)) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    assert(got.find(p => p._1 == 1L && p._2 == 3L).get._3 == 1.0)
    // parity with Dedup's own unblocked n-gram join at the same threshold
    // (ngramJaccardPairs blocks by lang+tok0, which this corpus satisfies)
    val truth = Dedup.ngramJaccardPairs(
        docs.withColumn("lang", lit("xx")), minJaccard = 0.6)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == truth, s"prefix filter diverged: got $got, want $truth")
  }

  test("spanDupFraction covers overlapping and gapped occurrences exactly") {
    // doc 6 shares "a b c" at pos 0 and pos 4 (gap > n: two full intervals)
    val docs = Seq(
      (6L, "a b c z a b c"),
      (7L, "a b c")
    ).toDF("doc_id", "text")
    val got = Dedup.spanDupFraction(docs, n = 3)
      .select("doc_id", "dup_tokens").as[(Long, Long)].collect().toMap
    assert(got(6L) == 6L, "two disjoint occurrences cover 2n tokens")
    assert(got(7L) == 3L)
  }

  test("containmentPairs: a quoted subset scores 1.0 one-way, low the other") {
    val small = "alpha beta gamma delta epsilon"
    val big = small + " " + (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, small, "en"),
      (2L, big, "en"),
      (3L, "unrelated words entirely different content here", "en")
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairs(docs, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    // doc 1's 4 bigrams all appear in doc 2 -> containment_a = 1.0; the
    // big doc's containment is 4/24
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L))._1 == 1.0)
    assert(got((1L, 2L))._2 < 0.5,
      "jaccard would be ~0.17 here - the asymmetric metric is the point")
  }

  test("keepBest: longest member wins, doc_id breaks ties, sizes reported") {
    val docs = Seq(
      (1L, 100L), (2L, 300L), (3L, 300L), // cluster A: 2 and 3 tie on length
      (4L, 50L), (5L, 10L)                // cluster B
    ).toDF("doc_id", "n_chars")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "comp")
    val got = Dedup.keepBest(docs, comps)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 300L, 3L)), "tie at 300 chars -> smaller doc_id")
    assert(got(4L) == ((4L, 50L, 2L)))
  }
  test("tfidfCosinePairs: hand-computed quantized-idf cosine, df cap and " +
    "minShared prune, cap guard") {
    // docs 1/2 share exactly 3 bigrams (a b, b c, c d) and differ in one;
    // 8 filler docs make N = 10 so the shared grams (df = 2) survive the
    // df*2 <= N cap while every filler gram is df = 1
    val docs = (Seq(
      (1L, "en", "a b c d e"),
      (2L, "en", "a b c d f")) ++
      (3L to 10L).map(i => (i, "en", s"u$i v$i w$i x$i"))
    ).toDF("doc_id", "lang", "text")
    val got = graft.ops.Dedup.tfidfCosinePairs(docs, dfCapShare = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // idf_e3: shared grams trunc(ln(10/2)*1e3) = 1609, unique = 2302;
    // dot = 3*1609^2, nrm2 = 3*1609^2 + 2302^2 on both sides
    val dot = 3.0 * 1609 * 1609
    val nrm2 = 3.0 * 1609 * 1609 + 2302.0 * 2302
    val expected = BigDecimal(dot / (math.sqrt(nrm2) * math.sqrt(nrm2)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((1L, 2L, 3L, expected)))
    val e = intercept[IllegalArgumentException](
      graft.ops.Dedup.tfidfCosinePairs(docs, dfCapShare = 1))
    assert(e.getMessage.contains("dfCapShare"))
  }

  test("pairSetAgreement: pairwise set algebra with exact Jaccard") {
    val m1 = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val m2 = Seq((1L, 2L), (4L, 5L), (6L, 7L), (6L, 7L)) // dup collapses
      .toDF("doc_a", "doc_b")
    val got = Dedup.pairSetAgreement(Seq("x" -> m1, "y" -> m2))
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // |x|=3, |y|=3, common={1-2, 4-5}=2, union=4 -> 0.5
    assert(got == Seq(("x~y", 3L, 3L, 2L, 0.5)))
  }

  test("tfidf idf_e3 residual-risk certificate: every surviving ln(N/df)·1e3 " +
    "on the driver fixture sits far from its truncation boundary") {
    // mirrors tfidfCosinePairs' df census (bigrams per lang, df-capped at
    // N/10) and proves the FIXTURE never exercises the one libm call the
    // suite's no-cross-engine-ln rule cannot eliminate (scaladoc at
    // Dedup.tfidfCosinePairs). GenScale replication preserves N/df
    // ratios, so this certificate covers the sf1 gate too.
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val grams = docs
      .select(col("doc_id"), col("lang"),
        posexplode(graft.ops.TextAnalysis.tokens(col("text")))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("lang"), col("tok"),
        lead(col("tok"), 1).over(w).as("l1"))
      .filter(col("l1").isNotNull)
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", col("tok"), col("l1")).as("gram"))
    val n = docs.count()
    val dfs = grams.groupBy("doc_id", "lang", "gram").count()
      .groupBy("lang", "gram").agg(count(lit(1)).as("df"))
      .filter(col("df") * 10 <= n)
      .select("df").distinct().as[Long].collect()
    assert(dfs.nonEmpty)
    for (d <- dfs) {
      val x = math.log(n.toDouble / d.toDouble) * 1000.0
      val frac = x - math.floor(x)
      assert(frac > 1e-6 && frac < 1 - 1e-6,
        s"idf_e3 truncation tie risk: N=$n df=$d ln ratio e3=$x")
    }
  }

  test("sourceOverlap: hand-computed shared-gram census and coefficient") {
    val docs = Seq(
      // s1/s2 share exactly the 4-gram "a b c d" (s1 via doc 1, s2 via
      // doc 3); s3 shares nothing; doc 2's repeat of the gram within s1
      // must NOT inflate the distinct source-gram set
      (1L, "a b c d e", "s1"),
      (2L, "a b c d", "s1"),
      (3L, "z a b c d", "s2"),
      (4L, "p q r s t", "s3"),
      (5L, "x y", "s3")) // sub-gram doc: contributes nothing
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(docs)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // s1 grams: {a b c d, b c d e} (2); s2: {z a b c, a b c d} (2);
    // shared = 1; coef = 1/min(2,2) = 0.5
    assert(got == Seq(("s1", "s2", 1L, 2L, 2L, 0.5)))
  }

  test("dedupYield: content-global keep-min-id accounting per language") {
    val docs = Seq(
      // en: docs 1,2 identical (modulo case/spacing -> same fingerprint),
      // keeper is doc 1; doc 3 unique
      (1L, "Alpha beta  gamma", "en"),
      (2L, "alpha beta gamma", "en"),
      (3L, "delta epsilon", "en"),
      // de: doc 4 duplicates doc 1's CONTENT -> dropped, attributed to
      // en's keeper; doc 5 unique
      (4L, "ALPHA BETA GAMMA", "de"),
      (5L, "zeta eta theta iota", "de"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.dedupYield(docs)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    // de: before 2 docs/7 tokens, after 1 doc/4 tokens -> removal 3/7
    // en: before 3 docs/8 tokens, after 2 docs/5 tokens -> removal 3/8
    assert(got == Seq(
      ("de", 2L, 1L, 7L, 4L, 0.428571),
      ("en", 3L, 2L, 8L, 5L, 0.375)))
  }

  test("methodAgreement (shared tokenization) == independent composition") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma delta epsilon zeta", "en"),
      (3L, "alpha beta gamma delta epsilon eta", "en"),
      (4L, "one two three four five six seven", "en"),
      (5L, "uno dos tres cuatro cinco seis", "es"),
      (6L, "uno dos tres cuatro cinco seis", "es"))
      .toDF("doc_id", "text", "lang")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    val shared = rows(Dedup.methodAgreement(docs))
    val independent = rows(Dedup.pairSetAgreement(Seq(
      "minhash" -> Dedup.minhashCandidates(docs),
      "ngram" -> Dedup.ngramJaccardPairs(docs),
      "simhash" -> Dedup.simhashCandidates(docs))))
    assert(shared == independent)
    assert(shared.nonEmpty)
  }

  test("DedupArtifacts: every artifact member row-identical to its inline " +
    "derivation; memoized per (session, key); invalidation rebuilds") {
    Memo.invalidate()
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma delta epsilon zeta", "en"),
      (3L, "alpha beta gamma delta epsilon eta", "en"),
      (4L, "one two three four five six seven", "en"),
      (5L, "uno dos tres cuatro cinco seis", "es"),
      (6L, "uno dos tres cuatro cinco seis", "es"))
      .toDF("doc_id", "text", "lang")
    val a = Dedup.dedupArtifactsFor("k1", docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    // each seam vs the INLINE operator the queries used pre-memoization
    assert(rows(a.minhashPairs) == rows(Dedup.minhashCandidates(docs)))
    assert(rows(Dedup.minhashEstOf(a.sigs)) ==
      rows(Dedup.minhashEstJaccardPairs(docs)))
    assert(rows(a.components) == rows(Dedup.connectedComponents(
      Dedup.minhashCandidates(docs))))
    assert(rows(a.simhashPairs) == rows(Dedup.simhashCandidates(docs)))
    assert(rows(a.ngramPairs) == rows(Dedup.ngramJaccardPairs(docs)))
    assert(rows(Dedup.methodAgreementOf(a)) == rows(Dedup.methodAgreement(docs)))
    val ranked = docs.withColumn("n_chars",
      org.apache.spark.sql.functions.length(col("text")))
    assert(rows(Dedup.keepBest(ranked, a.components)) ==
      rows(Dedup.keepBest(ranked, Dedup.connectedComponents(
        Dedup.minhashCandidates(docs)))))
    // memo identity + staleness contract (Memo's)
    assert(Dedup.dedupArtifactsFor("k1", docs.limit(0)) eq a)
    assert(!(Dedup.dedupArtifactsFor("k2", docs) eq a))
    Memo.invalidate()
    assert(!(Dedup.dedupArtifactsFor("k1", docs) eq a))
    Memo.invalidate()
  }

  test("pairSetAgreement: disjoint sets score zero, empty pair is NULL") {
    val a = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val b = Seq((3L, 4L)).toDF("doc_a", "doc_b")
    val e = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val z = Dedup.pairSetAgreement(Seq("a" -> a, "b" -> b))
      .as[(String, Long, Long, Long, Double)].collect().head
    assert(z == (("a~b", 1L, 1L, 0L, 0.0)))
    val n = Dedup.pairSetAgreement(Seq("e1" -> e, "e2" -> e))
      .collect().head
    assert(n.isNullAt(4))
  }
}
