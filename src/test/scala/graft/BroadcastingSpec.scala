package graft

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import scala.jdk.CollectionConverters._
import graft.operators.Broadcasting

/** Guard-railed broadcast (VERDICT r3 #3): proven-small sides broadcast,
  * oversized ones degrade to a shuffle join or fail fast — a misuse must
  * never silently OOM the driver at scale.
  */
class BroadcastingSpec extends SparkSpec {
  import spark.implicits._

  private def hasBroadcastHint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.isDefined

  test("small side broadcasts (fixed-width via estimate, var-width via probe)") {
    val fixed = Seq((1, 10.0), (2, 20.0)).toDF("k", "x")
    assert(hasBroadcastHint(Broadcasting.checked(fixed)))
    val varWidth = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(hasBroadcastHint(Broadcasting.checked(varWidth)))
  }

  test("pessimistic estimate but small actual payload: probe rescues the broadcast") {
    // a filtered parquet scan: Catalyst's estimate stays near the file size
    // (filters don't shrink it without CBO), but the actual side is 3 rows
    val dim = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" < 3)
    val est = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > 4096, s"precondition: estimate ($est) must exceed the bound")
    val out = Broadcasting.checked(dim, maxEstBytes = 16 * 1024, maxRows = 100)
    assert(hasBroadcastHint(out), "probe must rescue a small side with a big estimate")
  }

  test("oversized side degrades to an unhinted frame (shuffle join)") {
    val dim = Seq.tabulate(50)(i => (i, s"v$i")).toDF("k", "v")
    val out = Broadcasting.checked(dim, maxEstBytes = 1L, maxRows = 10)
    assert(!hasBroadcastHint(out))
    // and the degraded frame still joins correctly
    val fact = Seq.tabulate(50)(i => (i, i * 10)).toDF("k", "n")
    assert(fact.join(out, Seq("k")).count() == 50)
  }

  test("checkedOrFail: oversized side fails fast with size evidence") {
    val dim = Seq.tabulate(50)(i => (i, s"v$i")).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      Broadcasting.checkedOrFail(dim, maxEstBytes = 1L, maxRows = 10,
        tag = "test side")
    }
    assert(e.getMessage.contains("test side"))
    assert(e.getMessage.contains("refusing to broadcast"))
  }

  test("few-rows-but-wide side is rejected: the probe bounds BYTES, not just rows") {
    // 50 rows x ~40KB strings: within any row bound, but far over a small
    // byte bound — a row-count-only probe would broadcast this
    val wide = Seq.tabulate(50)(i => (i, "x" * 40000)).toDF("k", "v")
    val out = Broadcasting.checked(wide, maxEstBytes = 64 * 1024, maxRows = 1000)
    assert(!hasBroadcastHint(out),
      "a wide side must fail the probe's byte bound even when rows are few")
    intercept[IllegalStateException] {
      Broadcasting.checkedOrFail(wide, maxEstBytes = 64 * 1024, maxRows = 1000)
    }
  }

  test("probe is bounded: limit stops counting at maxRows + 1") {
    // behavioural proof: a degenerate bound still terminates fast on a
    // large-ish frame (the probe scans at most maxRows + 1 rows)
    val big = spark.range(1000000).toDF("k")
    val out = Broadcasting.checked(big, maxEstBytes = 1L, maxRows = 5)
    assert(!hasBroadcastHint(out))
  }

  test("probe verdict is memoized per plan; recheck=true bypasses the cache") {
    // a var-width side with a plan unique to this test (the literal makes
    // the canonicalized plan distinct from every other suite's)
    def side() = Seq((1, "memo-probe-a"), (2, "memo-probe-b")).toDF("k", "v")
    val (first, firstJobs) = jobsOf(Broadcasting.checked(side()))
    assert(hasBroadcastHint(first))
    assert(firstJobs >= 1, "first call must execute the probe")
    val (second, secondJobs) = jobsOf(Broadcasting.checked(side())) // same canonical plan
    assert(hasBroadcastHint(second))
    assert(secondJobs == 0,
      "second call on the same plan must hit the memoized verdict (no job)")
    val (rechecked, recheckJobs) = jobsOf(Broadcasting.checked(side(), recheck = true))
    assert(hasBroadcastHint(rechecked))
    assert(recheckJobs >= 1, "recheck=true must bypass the cache and re-run the probe")
  }

  test("probe cache: concurrent rechecks and evictions never throw or leave a stale verdict") {
    // every thread probes more distinct plans than the cache holds
    // (ProbeCacheMax = 64), so evictions race the rechecks' replacements
    def side() = Seq((1, "race-probe-a"), (2, "race-probe-b")).toDF("k", "v")
    val threads = 4
    val perThread = 20
    val verdicts = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val workers = (0 until threads).map { t =>
      new Thread(() =>
        try (0 until perThread).foreach { i =>
          Broadcasting.checked(Seq((i, s"race-distinct-$t-$i")).toDF("k", "v"))
          // each thread ends on a recheck, so the side's entry is the
          // newest in the cache when the threads are done
          verdicts.add(hasBroadcastHint(Broadcasting.checked(side(), recheck = true)))
        } catch { case e: Throwable => failures.add(e) })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    assert(failures.isEmpty, s"concurrent checked calls threw: ${failures.peek()}")
    assert(verdicts.size == threads * perThread && verdicts.asScala.forall(identity))
    val (last, lastJobs) = jobsOf(Broadcasting.checked(side()))
    assert(lastJobs == 0, "the rechecks' verdict must be cached")
    assert(hasBroadcastHint(last), "the cached verdict must be the rechecks' verdict")
  }
}
