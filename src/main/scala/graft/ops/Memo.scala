package graft.ops

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Hygiene shared by the session-keyed build-once artifact memos
  * ([[Recommend.recommendationsFor]], [[Graph.interactionGraphFor]],
  * [[Graph.coPurchaseEdgesFor]], [[Dedup.dedupArtifactsFor]]).
  *
  * Two leaks a long-lived process would otherwise accumulate:
  *  - entries keyed by a STOPPED session pin the session object (and with
  *    it the whole plan tree) forever — [[pruneStopped]] drops them on
  *    every memo access, so a process that cycles sessions stays bounded
  *    (the checkpoint blocks themselves die with the SparkContext);
  *  - entries dropped from a LIVE session would strand their
  *    localCheckpoint blocks in executor storage until context shutdown —
  *    [[unpersistCheckpoint]] releases them eagerly on invalidation.
  */
private[graft] object Memo {

  /** Drop every cache entry whose session's SparkContext has stopped.
    * O(entries) pointer checks — called on each memo access, never a
    * Spark action. Sessions sharing one still-running context are kept
    * (their artifacts remain servable); the unbounded case this guards
    * is stop-and-recreate cycles, where each dead session would
    * otherwise stay strongly reachable from the memo key.
    */
  def pruneStopped[K, V](
      cache: TrieMap[K, V], sessionOf: K => SparkSession): Unit =
    cache.keys.foreach { k =>
      if (sessionOf(k).sparkContext.isStopped) cache.remove(k)
    }

  /** Best-effort release of a localCheckpoint's persisted blocks: a
    * checkpointed Dataset's plan is a [[LogicalRDD]] over the persisted
    * internal RDD — unpersist exactly that RDD (non-blocking). Safe on
    * any DataFrame (non-checkpoint plans contain no LogicalRDD) and
    * never throws: storage release must not fail an invalidation.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case _: Throwable => () }
}
