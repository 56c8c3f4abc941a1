package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join surface for streams — the two shapes a 100 TB/day event pipeline
  * actually runs (beyond-reference §2.8 extension; the reference's only
  * joins are batch equi-joins):
  *
  *  - [[enrich]]: stream-static dimension enrichment. The dim is re-read
  *    and broadcast per micro-batch, so slowly-changing dimensions pick up
  *    updates between batches with no restart; the stream side never
  *    shuffles.
  *  - [[intervalJoin]]: stream-stream event-time interval join (each left
  *    event paired with same-key right events inside a bounded look-back
  *    window). The time bound is what makes it streamable: with both sides
  *    watermarked, Spark derives the state-retention horizon from the
  *    interval condition, so join state is bounded by (watermark + window)
  *    instead of growing forever — the difference between a join that runs
  *    for months and one that OOMs in an hour.
  *
  * Both transforms are batch/stream polymorphic (same plan on static
  * frames, where the oracle checks them; watermarks are only attached to
  * streaming inputs).
  */
object StreamJoins {

  /** Left-join a (possibly streaming) fact frame to a static dimension on
    * `key`, broadcasting the dimension. For a streaming fact frame this is
    * the standard slowly-changing-dimension enrichment: the dim plan
    * re-executes per micro-batch. The broadcast goes through the checked
    * guard (equi-join, so an oversized dim degrades to a shuffle join
    * instead of OOMing the driver once per micro-batch).
    *
    * Guard staleness caveat: the size check runs (and is memoized) when the
    * PLAN is first built, not per micro-batch — the dim's DATA is re-read
    * each batch, but a dim that grows past the broadcast bound mid-stream
    * keeps broadcasting until restart. A dim expected to grow unboundedly
    * should be joined inside `foreachBatch` with `checked(dim,
    * recheck = true)`, which bypasses the memoized verdict and re-probes
    * the dim's current size every batch.
    */
  def enrich(facts: DataFrame, dim: DataFrame, key: String): DataFrame =
    facts.join(
      graft.operators.Broadcasting.checked(dim), Seq(key), "left")

  /** Stream-static semi-join with a Bloom pre-filter — the dimension
    * variant [[enrich]] can't serve: a dim too big to broadcast per
    * micro-batch. The dim's keys are sketched ONCE at plan-build time
    * ([[graft.operators.RuntimeFilter.keyBloom]], bounded blob); each
    * micro-batch then drops non-matching facts at scan speed with the
    * codegen'd `might_contain` before the exact `left_semi` join removes
    * the sketch's false positives. Result rows are exactly the semi-join's.
    *
    * Same staleness contract as [[enrich]]'s guard: the SKETCH is frozen at
    * build time (keys ADDED to the dim mid-stream are invisible until
    * restart — semantics drift, not just performance, so callers that need
    * fresh dim keys per batch should rebuild inside `foreachBatch` with
    * `keyBloom(dim, recheck = true)`). The exact join still re-reads the
    * dim per batch, so false positives never pass even when the dim
    * SHRINKS mid-stream.
    */
  def semiFilter(facts: DataFrame, dim: DataFrame, key: String): DataFrame =
    graft.operators.RuntimeFilter.keyBloom(dim, key) match {
      case None => facts.filter(lit(false))
      case Some(sketch) =>
        facts
          .filter(graft.operators.RuntimeFilter.mightContain(sketch, facts(key)))
          .join(dim.select(col(key)).distinct(), Seq(key), "left_semi")
    }

  /** Pairs each left event with the right events of the same `key` whose
    * timestamp falls in [left.ts - lookBack, left.ts]. On streams, both
    * sides must carry the event-time column `tsCol`; watermarks of
    * `watermark` are attached and the interval condition bounds the join
    * state. On batch frames it is a plain range join (SMJ on the key with
    * the range as a post-condition), which is what the DuckDB oracle
    * reproduces.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame, key: String, tsCol: String,
      lookBack: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val l = (if (left.isStreaming) left.withWatermark(tsCol, watermark) else left).as("l")
    val r = (if (right.isStreaming) right.withWatermark(tsCol, watermark) else right).as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$tsCol") >= col(s"l.$tsCol") - expr(s"INTERVAL $lookBack") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol"))
  }

  /** KEYLESS point-in-interval join for streams — the binned trick of
    * [[graft.operators.RangeJoin]] carried to Structured Streaming, where
    * it is not an optimization but what makes the join POSSIBLE at all: a
    * stream-stream join demands an equality condition, and a pure
    * `t BETWEEN anchor-before AND anchor+after` has none. The time bin
    * supplies it: anchors explode to their overlapped bins (bounded —
    * (before+after)/binMs + 1 rows per anchor), points map to exactly one
    * bin (so no post-join dedup), the bins join as the required equality,
    * and the event-time range condition between the two sides lets the
    * watermark expire both state stores. On batch frames the same code is
    * a plain binned range join (what the spec's truth side runs).
    */
  def rangeJoinBinned(
      points: DataFrame, pointTs: String,
      anchors: DataFrame, anchorTs: String,
      beforeMs: Long, afterMs: Long, binMs: Long,
      watermark: String = "2 hours"): DataFrame = {
    require(binMs > 0 && beforeMs >= 0 && afterMs >= 0,
      "binMs must be positive and the range offsets non-negative")
    val p = (if (points.isStreaming) points.withWatermark(pointTs, watermark)
      else points)
      .withColumn("__bin", floor(unix_millis(col(pointTs)) / binMs).cast("long"))
      .as("p")
    val a = (if (anchors.isStreaming) anchors.withWatermark(anchorTs, watermark)
      else anchors)
      .withColumn("__bin", explode(sequence(
        floor((unix_millis(col(anchorTs)) - beforeMs) / binMs).cast("long"),
        floor((unix_millis(col(anchorTs)) + afterMs) / binMs).cast("long"))))
      .as("a")
    p.join(a,
      col("p.__bin") === col("a.__bin") &&
        col(s"p.$pointTs") >= col(s"a.$anchorTs") -
          expr(s"INTERVAL $beforeMs MILLISECONDS") &&
        col(s"p.$pointTs") <= col(s"a.$anchorTs") +
          expr(s"INTERVAL $afterMs MILLISECONDS"))
      .drop("__bin")
  }
}
