package graft

import org.apache.spark.sql.functions._

/** Recall-vs-cost curve for the MIPS IVF scale path: for each nProbe in
  * {1, 2, 4, 8} runs [[graft.ops.Similarity.mipsIvfTopK]] under the bench
  * sink (timed) and [[graft.ops.Similarity.mipsRecallReport]] against the
  * exact [[graft.ops.Similarity.mipsTopK]] ground truth, printing one
  * line per point:
  *
  *   MIPSSWEEP nprobe=N mean_recall=R wall_ivf=S queries=Q
  *
  * This is a Diag-style measurement record (not a gate query): the gate
  * certifies ONE (nProbe = 4) point exactly (`sim_recall_report_mips`);
  * the sweep documents the recall lever's whole curve so the scaladoc can
  * cite a curve instead of one point. Recorded in BASELINE.md.
  *
  * Usage: runMain graft.MipsProbeSweep [sfDir] [k] [queryMod]
  */
object MipsProbeSweep {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val queryMod = args.lift(2).map(_.toInt).getOrElse(50)
    val emb = Tables.embeddings(spark, dir)
    def ivf(nProbe: Int): Bench.Timing = Bench.timeNoop(
      graft.ops.Similarity.mipsIvfTopK(emb, k, queryMod, 16, nProbe))
    // JIT/scan warmup so the curve measures plan cost, not first-pass
    // compilation (the Diag protocol's lesson): one unrecorded pass
    ivf(1).failure.foreach(throw _)
    for (nProbe <- Seq(1, 2, 4, 8)) {
      val t = ivf(nProbe)
      t.failure.foreach(throw _)
      val rep = graft.ops.Similarity
        .mipsRecallReport(emb, k, queryMod, 16, nProbe)
        .agg(avg(col("recall")).as("r"), count(lit(1)).as("q"))
        .head()
      println(f"MIPSSWEEP nprobe=$nProbe%d mean_recall=${rep.getDouble(0)}%.4f " +
        f"wall_ivf=${t.seconds}%.3f queries=${rep.getLong(1)}%d")
    }
    spark.stop()
  }
}
