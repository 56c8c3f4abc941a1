package graft.ops

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The session store of build-once artifacts: the recommendation table
  * ([[Recommend.recommendationsFor]]), the interaction graph and the
  * co-purchase edges ([[Graph.interactionGraphFor]],
  * [[Graph.coPurchaseEdgesFor]]) and the dedup artifacts
  * ([[Dedup.dedupArtifactsFor]]). An artifact is built at most once per
  * (session, family, key) and served to every later request.
  *
  * Staleness contract: a key must fingerprint the INPUT DATA (the
  * caller's table directory plus the build's parameters); a caller that
  * mutates the tables under the same key must [[invalidate]] first.
  * Entries are keyed by the session object, so a new session never sees
  * another session's artifact.
  *
  * Two leaks a long-lived process would otherwise accumulate:
  *  - entries keyed by a STOPPED session pin the session object (and with
  *    it the whole plan tree) forever — [[pruneStopped]] drops them on
  *    every store access, so a process that cycles sessions stays bounded
  *    (the checkpoint blocks themselves die with the SparkContext);
  *  - entries dropped from a LIVE session would strand their
  *    localCheckpoint blocks in executor storage until context shutdown —
  *    each entry keeps the checkpoints its build handed over, and
  *    [[invalidate]] releases them eagerly.
  */
private[graft] object Memo {

  /** One stored artifact and the checkpoints its build handed over.
    * `build` receives the hand-over function: it records a checkpointed
    * DataFrame as the artifact's and returns it unchanged.
    */
  private final class Entry(build: (DataFrame => DataFrame) => Any) {
    private val owned = ArrayBuffer.empty[DataFrame]
    private def own(ck: DataFrame): DataFrame = synchronized {
      owned += ck; ck
    }
    val value: Any = build(own)
    def release(): Unit = synchronized {
      owned.foreach(unpersistCheckpoint)
      owned.clear()
    }
  }

  private val store = TrieMap.empty[(SparkSession, String, Any), Entry]

  /** The `family` artifact for `key` in `spark`'s session, built by
    * `build` on first request. `family` groups the keys one invalidation
    * drops together; a key's type and `build` must be the same on every
    * request, so the stored value always has type `A`.
    */
  def apply[A](spark: SparkSession, family: String, key: Any)(
      build: (DataFrame => DataFrame) => A): A = {
    pruneStopped()
    store.getOrElseUpdate((spark, family, key), new Entry(build))
      .value.asInstanceOf[A]
  }

  /** Drops every stored artifact and releases its checkpoint storage. */
  def invalidate(): Unit = drop(_ => true)

  /** Drops the artifacts of one family and releases their checkpoint
    * storage.
    */
  def invalidate(family: String): Unit = drop(_ == family)

  private def drop(which: String => Boolean): Unit =
    store.keys.foreach { k =>
      if (which(k._2)) store.remove(k).foreach(_.release())
    }

  /** Drop every entry whose session's SparkContext has stopped.
    * O(entries) pointer checks — never a Spark action. Sessions sharing
    * one still-running context are kept (their artifacts remain
    * servable); the unbounded case this guards is stop-and-recreate
    * cycles, where each dead session would otherwise stay strongly
    * reachable from the store key.
    */
  private def pruneStopped(): Unit =
    store.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) store.remove(k)
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
