package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.ops.{Graph, Memo}

/** The build-once artifact store: invalidation releases the checkpoint
  * storage each entry's build handed over, and the next request rebuilds.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  /** The persisted RDD ids under a checkpointed DataFrame's plan. */
  private def checkpointRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("invalidate() releases every entry's checkpoint RDDs; the next " +
    "request builds a new instance") {
    Memo.invalidate()
    var builds = 0
    def request(): (DataFrame, DataFrame) = Memo(spark, "spec", "k") { own =>
      builds += 1
      (own(spark.range(10).toDF().localCheckpoint()),
        own(spark.range(5).toDF().localCheckpoint()))
    }
    val first = request()
    assert(request() eq first)
    assert(builds == 1)
    val ids = checkpointRdds(first._1) ++ checkpointRdds(first._2)
    assert(ids.size == 2 && ids.subsetOf(persistedRdds))

    Memo.invalidate()
    assert((ids & persistedRdds).isEmpty)
    val second = request()
    assert(!(second eq first))
    assert(builds == 2)
    assert(second._1.count() == 10L)
    Memo.invalidate()
  }

  test("invalidate(family) releases that family only: the interaction " +
    "graph goes, another family's entry stays served and persisted") {
    Memo.invalidate()
    val li = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("l_suppkey", "l_partkey")
    val g = Graph.interactionGraphFor("memo-spec", li)
    val graphIds = checkpointRdds(g.edges) ++ checkpointRdds(g.deg) ++
      checkpointRdds(g.withDeg)
    val other =
      Memo(spark, "spec", "k")(own => own(spark.range(3).toDF().localCheckpoint()))
    val otherIds = checkpointRdds(other)
    assert(graphIds.size == 3 && (graphIds ++ otherIds).subsetOf(persistedRdds))

    Graph.invalidateInteractionGraphs()
    assert((graphIds & persistedRdds).isEmpty)
    assert(otherIds.subsetOf(persistedRdds))
    assert(Memo[DataFrame](spark, "spec", "k")(_ => fail("rebuilt a kept entry")) eq other)
    assert(!(Graph.interactionGraphFor("memo-spec", li) eq g))
    Memo.invalidate()
    assert((otherIds & persistedRdds).isEmpty)
  }
}
