package graft

import graft.ops.Graph

/** Fixed-point PageRank: hand-checkable tiny graph (independent reference
  * implementation in the test), determinism across parallelism, and mass
  * accounting under truncation.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // supplier 1 -> parts {1, 2}; supplier 2 -> part {2}
  // bipartite ids: suppliers 2,4; parts 3,5
  private def tiny = Seq(
    (1L, 1L), (1L, 2L), (2L, 2L), (1L, 2L) // duplicate edge collapses
  ).toDF("l_suppkey", "l_partkey")

  /** A fresh, unshared interaction graph over `lineitem`. */
  private def graph(lineitem: org.apache.spark.sql.DataFrame) =
    new Graph.InteractionGraph(lineitem)

  /** Independent fixed-point reference (driver-side BigInt-free: longs are
    * exact here) mirroring the operator's arithmetic spec, not its plan.
    */
  private def referenceRanks(
      edges: Set[(Long, Long)], iters: Int): Map[Long, Long] = {
    val undirected = edges ++ edges.map { case (u, v) => (v, u) }
    val deg = undirected.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val n = deg.size.toLong
    val base = Graph.RankScale * 15L / 100L / n
    var r = deg.keys.map(_ -> Graph.RankScale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = undirected.toSeq
        .map { case (u, v) => v -> r(u) / deg(u) }
        .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      r = contrib.map { case (v, c) => v -> (base + c * 85L / 100L) }
    }
    r
  }

  test("tiny graph matches the independent fixed-point reference") {
    val expected = referenceRanks(Set((2L, 3L), (2L, 5L), (4L, 5L)), 3)
    val got = Graph.pageRankOf(graph(tiny), iters = 3, topK = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    // structural sanity: part 5 (two suppliers) outranks part 3 (one)
    assert(got(5L) > got(3L))
  }

  test("identical output under different parallelism") {
    val a = Graph.pageRankOf(graph(tiny.repartition(1)), iters = 3, topK = 10)
      .as[(Long, Long)].collect().toSet
    val b = Graph.pageRankOf(graph(tiny.repartition(7)), iters = 3, topK = 10)
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("rank mass is conserved up to truncation loss") {
    val ranks = Graph.pageRankOf(graph(tiny), iters = 3, topK = 10)
      .as[(Long, Long)].collect()
    val total = ranks.map(_._2).sum
    // each division truncates < 1 unit per edge/node per iteration; with
    // 6 directed edges, 4 nodes, 3 iterations the loss is microscopic
    // relative to the 1e12 scale
    assert(total <= Graph.RankScale)
    assert(total > Graph.RankScale - 1000L)
    assert(ranks.forall(_._2 > 0L))
  }

  /** Brute-force triangle census over an explicit undirected edge set. */
  private def bruteTriangles(edges: Set[(Long, Long)]): (Long, Long, Long) = {
    val canon = edges.map { case (u, v) => (math.min(u, v), math.max(u, v)) }
    val nodes = canon.flatMap(e => Seq(e._1, e._2))
    val adj = canon.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2) }
    val triangles = (for {
      (u, v) <- canon
      w <- adj(u) if w > v && adj(v).contains(w)
    } yield 1).size.toLong
    val wedges = adj.values.map(n => n.size.toLong * (n.size - 1) / 2).sum
    (nodes.size.toLong, triangles, wedges)
  }

  test("triangle census matches brute force on a hand-built graph") {
    // baskets induce co-purchase edges: {1,2,3} is a triangle; {3,4} and
    // {4,5} dangle; basket {1,2} duplicates an existing edge (collapses)
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L),
      (101L, 3L), (101L, 4L),
      (102L, 4L), (102L, 5L),
      (103L, 1L), (103L, 2L)
    ).toDF("l_orderkey", "l_partkey")
    val edges = Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val (n, tris, wedges) = bruteTriangles(edges)
    val row = Graph.triangleStatsOf(Graph.coPurchaseEdges(li, 1000))
      .as[(Long, Long, Long, Double)].head()
    assert(row._1 == n)
    assert(row._2 == edges.size.toLong)
    assert(row._3 == tris && tris == 1L)
    assert(math.abs(row._4 - 3.0 * tris / wedges) < 1e-6)
  }

  test("triangle count is parallelism-invariant and counts each once") {
    // K4 has exactly 4 triangles; built from overlapping baskets
    val k4 = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), // triangle 1-2-3 via one basket
      (2L, 1L), (2L, 4L),
      (3L, 2L), (3L, 4L),
      (4L, 3L), (4L, 4L)
    ).toDF("l_orderkey", "l_partkey")
    // edges: basket1 gives 12,13,23; basket2: 14; basket3: 24; basket4: 34
    // = K4 -> 4 triangles, 6 edges, clustering 1.0
    val a = Graph.triangleStatsOf(Graph.coPurchaseEdges(k4.repartition(1), 1000))
      .as[(Long, Long, Long, Double)].head()
    val b = Graph.triangleStatsOf(Graph.coPurchaseEdges(k4.repartition(5), 1000))
      .as[(Long, Long, Long, Double)].head()
    assert(a == b)
    assert(a._2 == 6L && a._3 == 4L)
    assert(math.abs(a._4 - 1.0) < 1e-9)
  }

  test("strong-tie census (minSupport=2) keeps only repeat co-purchases") {
    // edges 1-2 and 1-3 and 2-3 each appear in TWO baskets; 3-4 in one.
    // support>=2 keeps the triangle, drops the dangler — and the exact
    // census (default) still sees all four edges.
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L),
      (101L, 1L), (101L, 2L), (101L, 3L),
      (102L, 3L), (102L, 4L)
    ).toDF("l_orderkey", "l_partkey")
    val strong = Graph.triangleStatsOf(Graph.coPurchaseEdges(li, 1000, minSupport = 2))
      .as[(Long, Long, Long, Double)].head()
    assert(strong._1 == 3L && strong._2 == 3L && strong._3 == 1L)
    val exact = Graph.triangleStatsOf(Graph.coPurchaseEdges(li, 1000))
      .as[(Long, Long, Long, Double)].head()
    assert(exact._1 == 4L && exact._2 == 4L && exact._3 == 1L)
  }

  test("mega-basket guard drops oversized baskets from the edge set") {
    val small = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("l_orderkey", "l_partkey")
    val mega = (1L to 60L).map(p => (9L, p)).toDF("l_orderkey", "l_partkey")
    val capped = Graph.triangleStatsOf(Graph.coPurchaseEdges(small.unionByName(mega), maxBasketSize = 10))
      .as[(Long, Long, Long, Double)].head()
    assert(capped._2 == 3L && capped._3 == 1L) // only the small triangle
  }

  test("degreeStats: histogram over edge degrees, Hill alpha on the tail") {
    // edges (a,b), (a,c): degrees a=2, b=c=1 -> hist {1: 2 nodes, 2: 1}
    val li = Seq(
      (100L, 1L), (100L, 2L),
      (101L, 1L), (101L, 2L), // duplicate edge collapses
      (102L, 1L), (102L, 3L)
    ).toDF("l_orderkey", "l_partkey")
    val got = Graph.degreeStatsOf(Graph.coPurchaseEdges(li, 1000), dMin = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L)._1 == 2L && got(2L)._1 == 1L)
    // alpha = 1 + 3 / (2*ln(1) + 1*ln(2)) rounded to 6
    val expected = BigDecimal(1.0 + 3.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L)._2 == expected)

    // tail entirely below dMin: alpha is NULL, never a divide-by-zero
    val sparse = Graph.degreeStatsOf(Graph.coPurchaseEdges(li, 1000), dMin = 10).collect()
    assert(sparse.forall(_.isNullAt(2)))
  }

  test("personalizedPageRank: hand-computed walk, restart mass on seeds only") {
    // supplier 1 <-> part 50 (node ids 2 and 101; part 50 is the seed at
    // seedEvery=50). Hand fixed point, deg = 1 both sides:
    //   r0 = {101: 1e12}
    //   r1 = {2: 850e9, 101: 150e9 (restart only)}
    //   r2 = {2: 127.5e9, 101: 150e9 + 722.5e9 = 872.5e9}
    //   r3 = {2: 741.625e9, 101: 150e9 + 108.375e9 = 258.375e9}
    val li = Seq((1L, 50L)).toDF("l_suppkey", "l_partkey")
    val got = Graph.personalizedPageRankOf(graph(li), seedEvery = 50, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 741625000000L, 101L -> 258375000000L))
  }

  test("personalizedPageRank: nodes unreachable from seeds are absent " +
    "(sparse rank table)") {
    // component A: supp1—part50 (seeded); component B: supp2—part3 (not)
    val li = Seq((1L, 50L), (2L, 3L)).toDF("l_suppkey", "l_partkey")
    val nodes = Graph.personalizedPageRankOf(graph(li), seedEvery = 50, iters = 3)
      .as[(Long, Long)].collect().toMap.keySet
    assert(nodes == Set(2L, 101L)) // B's nodes (4, 7) never enter the walk
  }

  test("personalizedPageRank: empty seed set fails loudly") {
    val li = Seq((1L, 3L)).toDF("l_suppkey", "l_partkey")
    val e = intercept[IllegalArgumentException] {
      Graph.personalizedPageRankOf(graph(li), seedEvery = 50)
    }
    assert(e.getMessage.contains("seed"))
  }

  test("bfsDistances: hand-checkable chain, min-dist not path-dist") {
    // supp 10 (seed, node 20) - part 1 (3) - supp 1 (2) - part 2 (5);
    // part 1 is ALSO reachable through supp 1 at hop 3, but min-merge
    // must keep its hop-1 distance. supp 7 (14) - part 9 (19) form an
    // unreached component that must be absent entirely.
    val li = Seq((10L, 1L), (1L, 1L), (1L, 2L), (7L, 9L))
      .toDF("l_suppkey", "l_partkey")
    val got = Graph.bfsDistancesOf(graph(li), seedEvery = 10, maxDepth = 3)
      .as[(Long, Long)].collect().toMap
    // dist 0: {20}; dist 1: {3}; dist 2: {2}; dist 3: {5}
    assert(got == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("bfsDistances: depth cap truncates, never loops") {
    val li = Seq((10L, 1L), (1L, 1L), (1L, 2L)).toDF("l_suppkey", "l_partkey")
    val got = Graph.bfsDistancesOf(graph(li), seedEvery = 10, maxDepth = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 1L -> 1L)) // node 2 (hop 2) not reached
    val e = intercept[IllegalArgumentException] {
      Graph.bfsDistancesOf(graph(li), maxDepth = 7)
    }
    assert(e.getMessage.contains("maxDepth"))
  }

  test("weightedShortestPaths: longer-but-lighter path beats the direct " +
    "heavy edge; bounded rounds") {
    // source node 0 (supp 0). Direct edge node0-node1 weight 5
    // (supp0, part0, qty 5); detour node0-node3 w1 (supp0, part1),
    // node3-node2 w1 (supp1, part1): dist(node2) = 2 < any direct route.
    val li = Seq(
      (0L, 0L, 5.0), (0L, 1L, 1.0), (1L, 1L, 1.0)
    ).toDF("l_suppkey", "l_partkey", "l_quantity")
    val got = Graph.weightedShortestPathsOf(graph(li), rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 0L), (3L, 1L), (2L, 2L), (1L, 5L)))
    val e = intercept[IllegalArgumentException](
      Graph.weightedShortestPathsOf(graph(li), rounds = 99))
    assert(e.getMessage.contains("rounds"))
  }

  test("labelPropagation: hand path graph — two synchronous rounds with " +
    "the min-label tie rule, exact census") {
    // Path 1-2-3 mapped through the bipartite encoding: suppliers {1},
    // parts {101, 102}; edges s1-p101, s1-p102 is a star... use direct
    // construction instead: supp 1 - part 1 (nodes 2, 3) and
    // supp 2 - part 1 (nodes 4, 3): path 2-3-4.
    // init labels: 2, 3, 4
    // round 1: node2 nb {3} -> 3; node3 nb {2,4} tie -> 2; node4 nb {3} -> 3
    // round 2: node2 nb {3}=2 -> 2; node3 nb {2,4}={3,3} -> 3;
    //          node4 nb {3}=2 -> 2
    // final labels: {2: node3} size 1... labels l2 = (2->2? let's read:
    // node2 label 2, node3 label 3, node4 label 2 => sizes: label2 -> 2,
    // label3 -> 1 => census: (1,1),(2,1)
    val li = Seq((1L, 1L), (2L, 1L)).toDF("l_suppkey", "l_partkey")
    val got = Graph.labelPropagationOf(graph(li), rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L)))
    val e = intercept[IllegalArgumentException](
      Graph.labelPropagationOf(graph(li), rounds = 99))
    assert(e.getMessage.contains("rounds"))
  }

  test("hits: one iteration on a hand graph reproduces the exact " +
    "fixed-point values") {
    // s1 -> {p1, p2}, s2 -> {p1}; unscaled seeds (hub0 = 1), 1e-12 scale:
    //   a1 raw: p1 = 2, p2 = 1; tot 3 -> auth p1 = 2e12 div 3,
    //     p2 = 1e12 div 3
    //   h1 raw: s1 = 999999999999, s2 = 666666666666; tot 1666666666665
    //     -> hub s1 = 600000000000 (exact), hub s2 = 400000000000 (exact)
    val li = Seq((1L, 101L), (1L, 102L), (2L, 101L))
      .toDF("l_suppkey", "l_partkey")
    val got = Graph.hitsOf(graph(li), iters = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("auth", 101L, 666666666666L), ("auth", 102L, 333333333333L),
      ("hub", 1L, 600000000000L), ("hub", 2L, 400000000000L)))
    // iters bound fails loudly
    val e2 = intercept[IllegalArgumentException](Graph.hitsOf(graph(li), iters = 9))
    assert(e2.getMessage.contains("iters"))
  }

  test("assortativity: a star is perfectly disassortative, a perfect " +
    "matching has no degree variance (NULL, not NaN)") {
    // s1 -> {p1, p2, p3}: hub degree 3 meets leaf degree 1 on every
    // edge -> r = -1 by hand (n=6, sxy=18, sx=sy=12, sxx=syy=30)
    val star = Seq((1L, 1L), (1L, 2L), (1L, 3L))
      .toDF("l_suppkey", "l_partkey")
    val got = Graph.assortativityOf(graph(star))
      .as[(Long, Option[Double])].collect().head
    assert(got == ((3L, Some(-1.0))))
    val matching = Seq((1L, 1L), (2L, 2L)).toDF("l_suppkey", "l_partkey")
    val g2 = Graph.assortativityOf(graph(matching))
      .as[(Long, Option[Double])].collect().head
    assert(g2 == ((2L, None)))
  }

  test("linkPrediction: non-adjacent pairs ranked by exact Jaccard, " +
    "existing edges excluded") {
    // one basket per edge: 1-2, 1-3, 1-4, 5-2, 5-3 (support-1 graph).
    // candidates at minCommon=2: (2,3) share {1,5} -> 2/(2+2-2) = 1.0;
    // (1,5) share {2,3} -> 2/(3+2-2) = 0.666667
    val li = Seq((101L, 1L), (101L, 2L), (102L, 1L), (102L, 3L),
      (103L, 1L), (103L, 4L), (104L, 5L), (104L, 2L), (105L, 5L),
      (105L, 3L)).toDF("l_orderkey", "l_partkey")
    val got = Graph.linkPredictionOf(Graph.coPurchaseEdges(li, 1000, minSupport = 1), minCommon = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (2L, 3L, 2L, 2L, 2L, 1.0),
      (1L, 5L, 2L, 3L, 2L, 0.666667)))
    // close the 2-3 edge: the pair leaves the candidate set
    val li2 = li.unionByName(
      Seq((106L, 2L), (106L, 3L)).toDF("l_orderkey", "l_partkey"))
    val got2 = Graph.linkPredictionOf(Graph.coPurchaseEdges(li2, 1000, minSupport = 1), minCommon = 2)
      .select("u", "v").as[(Long, Long)].collect().toSeq
    assert(!got2.contains((2L, 3L)) && got2.contains((1L, 5L)))
    val e = intercept[IllegalArgumentException](
      Graph.linkPredictionOf(Graph.coPurchaseEdges(li, 1000, minSupport = 2), minCommon = 0))
    assert(e.getMessage.contains("minCommon"))
  }

  test("kCore: one peel removes the leaf, survivors keep induced degrees") {
    // s1 -> {p1, p2, p3}, s2 -> {p1, p2}: p3 has degree 1; peeling at
    // k=2 drops it, s1's degree falls 3 -> 2, everyone else stays.
    // core = {s1, s2, p1, p2}, induced edges = 4, share 4/5
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L))
      .toDF("l_suppkey", "l_partkey")
    val got = Graph.kCoreOf(graph(li), k = 2, rounds = 3)
      .select("k", "n_nodes", "n_core_nodes", "n_core_suppliers",
        "n_core_parts", "n_core_edges", "core_share")
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().head
    assert(got == ((2L, 5L, 4L, 2L, 2L, 4L, 0.8)))
  }

  test("kCore: a chain cascades to an empty core, zeros not nulls") {
    // path s1 - p1 - s2 - p2: every round exposes new degree-1 ends
    val li = Seq((1L, 1L), (2L, 1L), (2L, 2L))
      .toDF("l_suppkey", "l_partkey")
    val got = Graph.kCoreOf(graph(li), k = 2, rounds = 3)
      .select("n_core_nodes", "n_core_suppliers", "n_core_parts",
        "n_core_edges", "core_share")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(got == ((0L, 0L, 0L, 0L, 0.0)))
  }

  test("kCore: an under-provisioned round cap fails loudly, never ships") {
    // the same cascade needs 2 removal rounds; cap at 1 must throw
    val li = Seq((1L, 1L), (2L, 1L), (2L, 2L))
      .toDF("l_suppkey", "l_partkey")
    val e = intercept[IllegalArgumentException](
      Graph.kCoreOf(graph(li), k = 2, rounds = 1))
    assert(e.getMessage.contains("not converged"))
    val e2 = intercept[IllegalArgumentException](Graph.kCoreOf(graph(li), k = 1))
    assert(e2.getMessage.contains("k=1"))
  }

  test("harmonicCentrality: hand BFS from the one eligible seed with the " +
    "exact truncated harmonic sum") {
    // suppliers 10, 11 -> nodes 20, 22; parts 1,2,3 -> nodes 3,5,7;
    // seed panel (node % 20 == 0) = {20}. From 20: d1 = {3,5},
    // d2 = {22}, d3 = {7} -> harmonic = 2/1 + 1/2 + 1/3 = 170/60
    val li = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L))
      .toDF("l_suppkey", "l_partkey")
    val got = Graph.harmonicCentralityOf(graph(li))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((20L, 2L, 1L, 1L, 2.833333)))
  }

  test("featurePropagation: floor-mean of floor-means, hand-checked, " +
    "with duplicate edges collapsed") {
    // parts 1,2,3 priced 100, 201, 50; supplier 1 -> {1,2}, supplier
    // 2 -> {2,3}; h1(1) = (100+201) DIV 2 = 150, h1(2) = (201+50) DIV 2
    // = 125; part 2 sees both: (150+125) DIV 2 = 137
    val li = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (1L, 2L))
      .toDF("l_suppkey", "l_partkey")
    val part = Seq((1L, 100.9), (2L, 201.5), (3L, 50.0))
      .toDF("p_partkey", "p_retailprice")
    val got = Graph.featurePropagation(li, part)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 150L, 1L), (2L, 137L, 2L), (3L, 125L, 1L)))
  }

  test("harmonicCentrality: the seed panel is the lowest seedCount " +
    "eligible nodes, deterministically") {
    // suppliers 10 and 20 are both eligible (nodes 20, 40); seedCount=1
    // must keep node 20 only
    val li = Seq((10L, 1L), (20L, 1L), (20L, 2L))
      .toDF("l_suppkey", "l_partkey")
    val got = Graph.harmonicCentralityOf(graph(li), seedCount = 1)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // from 20: d1 = {3}, d2 = {40}, d3 = {5} -> 60+30+20 = 110/60
    assert(got == Seq((20L, 1L, 1L, 1L, 1.833333)))
  }

  test("localClustering: hand graph - triangle plus pendant edge") {
    // baskets give edges {1-2, 2-3, 1-3, 1-4} at support 1
    val li = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L), (3L, 3L),
      (4L, 1L), (4L, 4L)).toDF("l_orderkey", "l_partkey")
    val got = Graph.localClusteringOf(Graph.coPurchaseEdges(li, 1000, minSupport = 1))
      .as[(Long, Long, Long, Double)].collect().toSeq
    // node 4 excluded (deg 1); nodes 2,3: deg 2, 1 triangle -> cc 1.0;
    // node 1: deg 3, 1 triangle -> 2/6 = .333333 (exact fixed point)
    assert(got == Seq((2L, 2L, 1L, 1.0), (3L, 2L, 1L, 1.0),
      (1L, 3L, 1L, 0.333333)))
  }

  test("orientedTriangles: each triangle listed once, apex preserved") {
    // two triangles sharing edge 2-3, plus a non-triangle edge 4-5
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (5L, 4L)).toDF("u", "v")
    val got = Graph.orientedTriangles(edges)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.size == 2)
    assert(got.map(t => Set(t._1, t._2, t._3)) ==
      Set(Set(1L, 2L, 3L), Set(2L, 3L, 4L)))
  }

  test("communityModularity: two disjoint edges - LPA oscillates back to " +
    "singletons, every edge crosses, Q = -1/4 exactly") {
    // suppliers {1,2}, parts {1,2}: edges 2-3 and 4-5 (bipartite ids);
    // after 2 synchronous rounds each node holds its own label again, so
    // e_in = 0, M = 4, every degree 1 -> q_num = 4*0 - 4 = -4, q = -0.25
    // (exercises the negative-q path the double-division rendering makes
    // convention-free)
    val li = Seq((1L, 1L), (2L, 2L)).toDF("l_suppkey", "l_partkey")
    val got = Graph.communityModularityOf(graph(li))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((4L, 4L, 0L, -4L, -0.25)))
  }

  // ---- build-once interaction-graph artifact (r10) -----------------------

  test("InteractionGraph: artifact edges/degrees row-identical to the " +
    "inline derivation the operators used pre-memoization") {
    val g = new Graph.InteractionGraph(tiny)
    // inline reference derivation (the pre-r10 per-operator prefix)
    val once = tiny.selectExpr("l_suppkey * 2 as u", "l_partkey * 2 + 1 as v")
      .distinct()
    val refEdges = once.unionByName(once.selectExpr("v as u", "u as v"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(g.edges.as[(Long, Long)].collect().sorted.toSeq == refEdges)
    val refDeg = refEdges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(g.deg.as[(Long, Long)].collect().toMap == refDeg)
    assert(g.nNodes == refDeg.size.toLong)
    // withDeg carries each edge annotated with deg(u)
    assert(g.withDeg.select("u", "v", "deg").as[(Long, Long, Long)]
      .collect().sorted.toSeq ==
      refEdges.map { case (u, v) => (u, v, refDeg(u)) }.sorted)
  }

  test("InteractionGraph: every ...Of operator matches its inline twin") {
    // one graph shared by every operator vs a fresh graph per call
    val g = new Graph.InteractionGraph(tiny)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    assert(rows(Graph.pageRankOf(g)) == rows(Graph.pageRankOf(graph(tiny))))
    assert(rows(Graph.personalizedPageRankOf(g, seedEvery = 1)) ==
      rows(Graph.personalizedPageRankOf(graph(tiny), seedEvery = 1)))
    assert(rows(Graph.bfsDistancesOf(g, seedEvery = 1)) ==
      rows(Graph.bfsDistancesOf(graph(tiny), seedEvery = 1)))
    assert(rows(Graph.labelPropagationOf(g)) ==
      rows(Graph.labelPropagationOf(graph(tiny))))
    assert(rows(Graph.communityModularityOf(g)) ==
      rows(Graph.communityModularityOf(graph(tiny))))
    assert(rows(Graph.assortativityOf(g)) == rows(Graph.assortativityOf(graph(tiny))))
    assert(rows(Graph.harmonicCentralityOf(g, seedEvery = 1, seedCount = 8)) ==
      rows(Graph.harmonicCentralityOf(graph(tiny), seedEvery = 1, seedCount = 8)))
    assert(rows(Graph.kCoreOf(g, k = 2, rounds = 6)) ==
      rows(Graph.kCoreOf(graph(tiny), k = 2, rounds = 6)))
    assert(rows(Graph.hitsOf(g, iters = 1)) == rows(Graph.hitsOf(graph(tiny), iters = 1)))
    assert(rows(Graph.weightedShortestPathsOf(
      new Graph.InteractionGraph(tinyWeighted))) ==
      rows(Graph.weightedShortestPathsOf(graph(tinyWeighted))))
  }

  private def tinyWeighted = Seq(
    (0L, 0L, 5.0), (0L, 0L, 7.0), // duplicate pair: min quantity wins
    (0L, 1L, 1.0), (1L, 1L, 1.0)
  ).toDF("l_suppkey", "l_partkey", "l_quantity")

  test("InteractionGraph: weightedEdges match an independent min-quantity " +
    "derivation; ssspOf rides them to the hand-computed distances") {
    val g = new Graph.InteractionGraph(tinyWeighted)
    // independent expectation: min qty per (supp*2, part*2+1) pair, both
    // orientations — derived here by hand, not by the operator's code path
    val directed = Map((0L, 1L) -> 5L, (0L, 3L) -> 1L, (2L, 3L) -> 1L)
    val sym = directed ++ directed.map { case ((u, v), w) => ((v, u), w) }
    assert(g.weightedEdges.as[(Long, Long, Long)].collect()
      .map { case (u, v, w) => ((u, v), w) }.toMap == sym)
    // artifact-riding sssp reproduces the hand-computed distances (seed
    // node 0; detour 0->3->2 costs 2, beating nothing — the direct
    // neighbor 1 keeps its heavy w=5 edge)
    val got = Graph.weightedShortestPathsOf(g, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 0L), (3L, 1L), (2L, 2L), (1L, 5L)))
  }

  test("hitsOf: the artifact's directed-edge projection equals an " +
    "independently-derived distinct (l_suppkey, l_partkey) list") {
    // r10 ADVICE: hits' s->p edges are a PROJECTION of the symmetric
    // artifact (keep even-u, shift ids back); pin that projection against
    // a derivation that never touches InteractionGraph internals
    val li = Seq((1L, 101L), (1L, 102L), (2L, 101L), (1L, 101L))
      .toDF("l_suppkey", "l_partkey")
    val g = new Graph.InteractionGraph(li)
    val projected = g.edges.filter($"u" % 2 === 0)
      .selectExpr("u div 2 as s", "(v - 1) div 2 as p")
      .as[(Long, Long)].collect().toSet
    val independent = li.select("l_suppkey", "l_partkey").distinct()
      .as[(Long, Long)].collect().toSet
    assert(projected == independent)
  }

  test("interactionGraphFor: memoized per (session, key); distinct keys " +
    "get distinct artifacts; invalidation rebuilds") {
    Graph.invalidateInteractionGraphs()
    val a = Graph.interactionGraphFor("k1", tiny)
    // memo hit: same instance back, even from a different input plan
    // (the key is (session, inputKey) — the caller's staleness contract)
    assert(Graph.interactionGraphFor("k1", tiny.limit(0)) eq a)
    val b = Graph.interactionGraphFor("k2", tiny)
    assert(!(b eq a))
    Graph.invalidateInteractionGraphs()
    assert(!(Graph.interactionGraphFor("k1", tiny) eq a))
    Graph.invalidateInteractionGraphs()
  }

  test("coPurchaseEdgesFor: memoized per (session, key, params) and " +
    "row-identical to the direct derivation") {
    Graph.invalidateInteractionGraphs()
    val li = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L), (3L, 3L),
      (4L, 1L), (4L, 2L)) // second {1,2} basket -> that pair reaches support 2
      .toDF("l_orderkey", "l_partkey")
    val memo = Graph.coPurchaseEdgesFor("k1", li)
    assert(Graph.coPurchaseEdgesFor("k1", li.limit(0)) eq memo)
    // different params -> different artifact
    assert(!(Graph.coPurchaseEdgesFor("k1", li, minSupport = 2) eq memo))
    assert(memo.as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(Graph.coPurchaseEdgesFor("k1", li, minSupport = 2)
      .as[(Long, Long)].collect().toSet == Set((1L, 2L)))
    Graph.invalidateInteractionGraphs()
  }

  test("reciprocity: loops and duplicates collapse first; the mutual " +
    "pair counts both directions") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val got = Graph.reciprocity(edges, "src", "dst")
      .as[(Long, Long, Double)].collect().head
    // distinct non-loop edges {(1,2),(2,1),(1,3)}; (1,2) and (2,1)
    // each see their reverse -> 2/3
    assert(got == ((3L, 2L, 0.666667)))
  }

  test("reciprocity: an empty (all-loop) edge set yields 0 edges and " +
    "NULL share, not a divide-by-zero") {
    val edges = Seq((5L, 5L)).toDF("src", "dst")
    val row = Graph.reciprocity(edges, "src", "dst").collect().head
    assert(row.getLong(0) == 0L && row.isNullAt(2))
  }
}
