package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Stateful-streaming scale rung (r12 VERDICT #5): the streaming family's
  * sf10 evidence was "the watermark contract, not a curve" — this main
  * produces the curve. It replays the events table in EVENT-TIME order as
  * one micro-batch per day (30 slices over the fixture's fixed 30-day
  * span; GenScale'd sf1/sf10 hold the span and multiply the RATE, which
  * is exactly the axis a state bound must survive) and records the state
  * store's rows/bytes after every micro-batch for the three stateful
  * families:
  *
  *  - `window_agg`  (EventAggs.windowedByType): bound = types x windows
  *    inside the watermark horizon — rate- AND length-independent.
  *  - `dedup` (StreamDedup.exactOnceWithin on event_id): bound = ids
  *    inside the watermark horizon — rate-proportional (10x rate -> 10x
  *    rows) but length-independent (batch 30 == batch 5).
  *  - `sessionize` (Sessionize.sessions): bound = key cardinality
  *    (1,500 fixture users) — rate- and length-independent.
  *
  * Flat per-batch state across a 30-day replay = bounded; the numbers
  * land as a BASELINE.md footnote next to the batch families' sf10 rung.
  *
  * Usage: `runMain graft.StreamStateScale <sfDir> [slices]` (default 30).
  */
object StreamStateScale {

  type Ev = (Long, Timestamp, Long, String, Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val slices = args.lift(1).map(_.toInt).getOrElse(30)
    val spark = Tables.localSession()
    import spark.implicits._

    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val Array(t0, t1) = events
      .agg(min(col("ts")), max(col("ts"))).as[(Timestamp, Timestamp)]
      .collect().map(t => Array(t._1.getTime, t._2.getTime)).head
    val step = (t1 - t0) / slices + 1

    // one driver-side slice pull per micro-batch: bounded at
    // rows/slices per pull (≤ ~333k six-field tuples at sf10)
    def slice(k: Int): Array[Ev] = events
      .filter(col("ts") >= lit(new Timestamp(t0 + k * step)) &&
        col("ts") < lit(new Timestamp(t0 + (k + 1) * step)))
      .as[Ev].collect()

    def replay(op: String, build: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Ev]
      val df = build(mem.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
      val q = df.writeStream.outputMode("append").format("noop").start()
      try {
        (0 until slices).foreach { k =>
          val rows = slice(k)
          if (rows.nonEmpty) mem.addData(rows.toIndexedSeq)
          q.processAllAvailable()
          val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
          println(s"""{"metric":"stream_state","op":"$op","batch":$k,""" +
            s""""input":${rows.length},""" +
            s""""state_rows":${so.map(_.numRowsTotal).sum},""" +
            s""""state_bytes":${so.map(_.memoryUsedBytes).sum}}""")
        }
      } finally q.stop()
    }

    replay("window_agg",
      d => streaming.EventAggs.windowedByType(d, watermark = "1 hour"))
    replay("dedup",
      d => streaming.StreamDedup.exactOnceWithin(d, "ts", "1 hour",
        Seq("event_id")))
    replay("sessionize", d => {
      import spark.implicits._
      streaming.Sessionize.sessions(
        d.select(col("user_id"), col("ts"), col("event_type"))
          .as[streaming.Sessionize.Event]).toDF()
    })

    replay("sessionize_evicting", d => {
      import spark.implicits._
      streaming.Sessionize.sessionsEvicting(
        d.select(col("user_id"), col("ts"), col("event_type"))
          .withWatermark("ts", "1 hour")
          .as[streaming.Sessionize.Event]).toDF()
    })

    // stream-stream interval join (the fourth stateful family): left =
    // the full stream, right = the 10% event_id % 10 == 0 substream;
    // bound = BOTH sides' rows inside the watermark horizon —
    // rate-proportional, length-flat
    locally {
      implicit val sqlCtx = spark.sqlContext
      val lmem = MemoryStream[Ev]
      val rmem = MemoryStream[Ev]
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
      val joined = streaming.StreamJoins.intervalJoin(
        lmem.toDF().toDF(cols: _*), rmem.toDF().toDF(cols: _*),
        "user_id", "ts")
      val q = joined.writeStream.outputMode("append").format("noop").start()
      try {
        (0 until slices).foreach { k =>
          val rows = slice(k)
          if (rows.nonEmpty) {
            lmem.addData(rows.toIndexedSeq)
            rmem.addData(rows.filter(_._1 % 10 == 0).toIndexedSeq)
          }
          q.processAllAvailable()
          val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
          println(s"""{"metric":"stream_state","op":"interval_join",""" +
            s""""batch":$k,"input":${rows.length},""" +
            s""""state_rows":${so.map(_.numRowsTotal).sum},""" +
            s""""state_bytes":${so.map(_.memoryUsedBytes).sum}}""")
        }
      } finally q.stop()
    }
    println(s"""{"metric":"stream_state_done","sf_dir":"$sfDir"}""")
    spark.stop()
  }
}
