package graft

import graft.operators.Fixpoint
import graft.ops.{Dedup, Graph, Hierarchy}

/** [[Fixpoint]] decides convergence from a count observed on each round's
  * own checkpoint job: the count must equal a recount of that checkpoint,
  * the round cap must fail loudly, and a converging loop launches no probe
  * jobs besides its rounds.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** A parent-pointer chain 16 deep: node n's parent is n - 1, root 0. */
  private def chain = (1L to 16L).map(n => (n, n - 1)).toDF("node", "parent")

  /** (op, round, observed count, recount of the progress predicate on the
    * round's checkpoint) for every round `body` runs.
    */
  private def recounted(body: => Any): Seq[(String, Int, Long, Long)] = {
    val rounds = Seq.newBuilder[(String, Int, Long, Long)]
    Fixpoint.observing { r =>
      rounds += ((r.op, r.n, r.count, r.frame.filter(r.progress).count()))
    }(body)
    rounds.result()
  }

  test("every round's observed count equals a recount of its checkpoint") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    // path s1 - p1 - s2 - p2 - s3 - p3: peeling at k = 2 eats it from
    // both ends, two nodes per round
    val li = Seq((1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L), (3L, 3L))
      .toDF("l_suppkey", "l_partkey")
    val users = Seq[(String, () => Any)](
      "ancestorClosure" -> (() => Hierarchy.ancestorClosure(chain).count()),
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs).count()),
      "kCore" -> (() => Graph.kCoreOf(new Graph.InteractionGraph(li), k = 2).collect()))
    for ((op, run) <- users) {
      val rounds = recounted(run())
      assert(rounds.map(_._1).toSet == Set(op))
      assert(rounds.map(_._2) == (1 to rounds.size), op)
      for ((_, n, observed, recount) <- rounds)
        assert(observed == recount, s"$op round $n: observed $observed, recounted $recount")
      assert(rounds.size >= 2 && rounds.init.forall(_._3 > 0) && rounds.last._3 == 0,
        s"$op: $rounds")
    }
  }

  test("connectedComponents past its round cap throws, naming maxRounds") {
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(path, maxRounds = 3))
    assert(e.getMessage.contains("maxRounds=3"), e.getMessage)
  }

  test("ancestorClosure on a 16-deep chain launches its rounds' jobs, no probes") {
    val (closure, jobs) = jobsOf(Hierarchy.ancestorClosure(chain, validate = false))
    assert(closure.count() == (1 to 16).sum)
    // five rounds (d <= 2, 4, 8, 16, then none at 32), each its join's
    // jobs plus one checkpoint job: 2 while the jump rows' size estimate
    // allows a broadcast, 4 once it does not (two shuffle maps, then the
    // broadcast adaptive execution picks from their actual sizes)
    assert(jobs == 16, s"$jobs jobs")
  }
}
