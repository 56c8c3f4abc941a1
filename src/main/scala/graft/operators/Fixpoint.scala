package graft.operators

import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{count, when}

import graft.ops.Memo

/** The one driver for the loops that run to convergence
  * ([[graft.ops.Hierarchy.ancestorClosure]],
  * [[graft.ops.Dedup.connectedComponents]], [[graft.ops.Graph.kCoreOf]]).
  *
  * Each round runs `step` on the previous round's frame and materializes
  * the result with ONE eager `localCheckpoint`. That same job counts the
  * rows matching the step's progress predicate as an observed metric
  * (`Dataset.observe`), so a round needs no emptiness probe, accumulator
  * or confirmation query of its own. The previous round's checkpoint is
  * released once the new one exists; the caller's `init` never is (it may
  * be a memoized artifact). The loop returns the first round whose count
  * is 0; reaching `maxRounds` with progress left throws instead of
  * returning a truncated result.
  *
  * One condition on `step`: the progress predicate must sit above the
  * round's last exchange, i.e. it is evaluated over the frame `step`
  * returns. It then runs in the checkpoint job's result stage, where Spark
  * merges each partition's metric exactly once (a shuffle-map stage may be
  * re-run, and its metrics with it).
  */
object Fixpoint {

  /** One materialized round: its checkpoint, its progress predicate and
    * the observed count of rows matching it.
    */
  final case class Round(
      op: String, n: Int, frame: DataFrame, progress: Column, count: Long)

  private val observer = new DynamicVariable[Round => Unit](_ => ())

  /** Runs `body` with `f` called after every round's checkpoint, while
    * that round's frame is still readable.
    */
  private[graft] def observing[T](f: Round => Unit)(body: => T): T =
    observer.withValue(f)(body)

  /** Iterates `step(frame, round)` (rounds numbered from 1) from `init`
    * until a round's frame has no row matching its progress predicate.
    */
  def iterate(op: String, init: DataFrame, maxRounds: Int, hint: String)(
      step: (DataFrame, Int) => (DataFrame, Column)): DataFrame = {
    var cur = init
    var round = 0
    var left = 1L
    while (left > 0) {
      if (round == maxRounds)
        throw new IllegalArgumentException(
          s"$op: not converged after $maxRounds rounds (maxRounds=$maxRounds) — $hint")
      round += 1
      val (frame, progress) = step(cur, round)
      val metric = s"$op/$round"
      val observed = frame.observe(metric, count(when(progress, true)))
      val next = observed.localCheckpoint()
      left = observed.queryExecution.observedMetrics(metric).getLong(0)
      observer.value(Round(op, round, next, progress, left))
      if (round > 1) Memo.unpersistCheckpoint(cur)
      cur = next
    }
    cur
  }
}
