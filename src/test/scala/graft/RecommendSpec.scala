package graft

import graft.ops.{Memo, Recommend}

/** Item-CF: hand-computed e6 cosines, integer score sums, owned-item
  * exclusion, and the neighbor-list cap.
  */
class RecommendSpec extends SparkSpec {
  import spark.implicits._

  // baskets: {1,2}, {1,2}, {1,3}, {2,3} -> n(1)=3, n(2)=3, n(3)=2
  private def lineitem =
    Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 3L),
      (13L, 2L), (13L, 3L)).toDF("l_orderkey", "l_partkey")

  test("itemCosine: e6 fixed-point cosine from co-purchase counts") {
    val got = Recommend.itemCosine(lineitem)
      .select("part_a", "part_b", "pair_cnt", "cos_e6")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // cos(1,2) = 2/sqrt(9)  = .666666..  -> 666666
    // cos(1,3) = 1/sqrt(6)  = .408248..  -> 408248 (ditto 2,3)
    assert(got == Seq((1L, 2L, 2L, 666666L), (1L, 3L, 1L, 408248L),
      (2L, 3L, 1L, 408248L)))
  }

  test("recommendItems: integer-sum scores, owned items excluded, " +
    "top-N per user") {
    // cust 100 owns {1}; cust 200 owns {1,2}
    val orders = Seq((10L, 200L), (11L, 200L), (12L, 100L), (13L, 200L))
      .toDF("o_orderkey", "o_custkey")
    val li = lineitem
    // histories come from orders x lineitem: 100 -> {1,3}; 200 -> {1,2,3}
    // 200 owns everything -> no recs; 100's candidates: nbrs of 1 = {2,3},
    // nbrs of 3 = {1,2}; minus owned {1,3} -> only 2, score = cos(1,2) +
    // cos(2,3) = 666666 + 408248, two contributors
    val got = Recommend.recommendItems(li, orders)
      .select("cust", "rec_part", "score_e6", "n_contrib", "rn")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((100L, 2L, 1074914L, 2L, 1L)))
  }

  test("recommendItems: neighbor cap truncates low-cosine neighbors") {
    val orders = Seq((12L, 100L)).toDF("o_orderkey", "o_custkey")
    // cap=1: item 1's only kept neighbor is 2 (666666 > 408248), item 3's
    // is 1 (ties at 408248 broken by nbr asc) -> cust 100 (owns {1,3})
    // gets only candidate 2 via item 1
    val got = Recommend.recommendItems(lineitem, orders,
      neighborsPerItem = 1)
      .select("cust", "rec_part", "score_e6", "n_contrib")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((100L, 2L, 666666L, 1L)))
  }

  test("coverageAudit: slot counts, catalog coverage, exposure share") {
    val orders = Seq((12L, 100L)).toDF("o_orderkey", "o_custkey")
    // single user owns {1,3} -> one rec slot (part 2); catalog = {1,2,3}
    val got = Recommend.coverageAudit(lineitem, orders)
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq((1L, 1L, 3L, 1L, 0.333333, 1.0)))
  }

  test("recommendationsFor: memoized artifact == direct chain; cached by " +
    "(session, key, params); audit from it == audit from the chain") {
    val orders = Seq((12L, 100L)).toDF("o_orderkey", "o_custkey")
    Memo.invalidate()
    val a = Recommend.recommendationsFor("specfixture", lineitem, orders)
    val direct = Recommend.recommendItems(lineitem, orders)
    assert(a.collect().toSeq == direct.collect().toSeq)
    // second call returns the SAME materialized artifact (no rebuild)
    val b = Recommend.recommendationsFor("specfixture", lineitem, orders)
    assert(a eq b)
    // different params -> different artifact
    val c = Recommend.recommendationsFor("specfixture", lineitem, orders,
      neighborsPerItem = 1)
    assert(!(c eq a))
    // the audit over the artifact matches the self-contained audit
    val viaArtifact = Recommend.coverageAuditOf(a, lineitem).collect().toSeq
    val viaChain = Recommend.coverageAudit(lineitem, orders).collect().toSeq
    assert(viaArtifact == viaChain)
    Memo.invalidate()
  }

  test("biasModel: hand-computed chained means, incl. the negative item " +
    "bias the +C offset makes engine-safe") {
    val orders = Seq((1L, 10L), (2L, 10L), (3L, 20L))
      .toDF("o_orderkey", "o_custkey")
    val li = Seq(
      (1L, 100L, 4.0), (2L, 100L, 2.0), (3L, 100L, 2.0), (3L, 200L, 4.0)
    ).toDF("l_orderkey", "l_partkey", "l_quantity")
    // mu = 3; both user biases 0; item 100 devs (1,-1,-1) -> -1/3
    // half-up at 6dp = -0.333333; item 200 dev (+1) -> +1.0
    val got = Recommend.biasModel(li, orders)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      100L -> ((3L, 3.0, -0.333333)),
      200L -> ((1L, 3.0, 1.0))))
  }

  test("biasModelUsers: the b_u table on the same fixture, incl. a " +
    "nonzero user bias") {
    val orders = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L))
      .toDF("o_orderkey", "o_custkey")
    val li = Seq(
      (1L, 100L, 4.0), (2L, 100L, 2.0), (3L, 100L, 2.0), (3L, 200L, 4.0),
      (4L, 100L, 8.0) // user 30: single rating 8, mu shifts to 4
    ).toDF("l_orderkey", "l_partkey", "l_quantity")
    // mu = (4+2+2+4+8)/5 = 4; b_u(10) = ((4-4)+(2-4))/2 = -1;
    // b_u(20) = ((2-4)+(4-4))/2 = -1; b_u(30) = 8-4 = 4
    val got = Recommend.biasModelUsers(li, orders)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      10L -> ((2L, 4.0, -1.0)),
      20L -> ((2L, 4.0, -1.0)),
      30L -> ((1L, 4.0, 4.0))))
  }
}
