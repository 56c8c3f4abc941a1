package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.ListenerBusBridge.drainListenerBus

/** Dev probe for single queries and the write path (not part of the driver
  * contract), run under the bench session ([[Tables.localSession]]):
  *
  *  - `time <sfDir> <passes> <query...>`: one line per pass timing each
  *    query into the `noop` sink, then each query's minimum over passes 2
  *    and later (pass 1 is the JIT warmup). A stall shows as outlier passes
  *    around a fast steady state; a structural cost shows on every pass.
  *  - `stages <sfDir> <query>`: a warm pass, then a pass that prints every
  *    stage's task time, CPU, GC, fetch wait, tasks and shuffle bytes,
  *    slowest first — the dominant stage without the (disabled) UI.
  *  - `plan <sfDir> <query...>`: executes each query, then prints the
  *    formatted explain of that same QueryExecution: PushedFilters,
  *    ReadSchema, join strategies and the final adaptive plan.
  *  - `ingest <passes> <nFiles>`: [[Bench.benchIngest]] once per pass.
  */
object Probe {
  private type Query = (SparkSession, String) => DataFrame
  private type Command = (SparkSession, String => Unit) => Unit

  def main(args: Array[String]): Unit = {
    val run =
      try command(args.toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"graft.Probe: ${e.getMessage}"); sys.exit(2) }
    val spark = Tables.localSession()
    try run(spark, println(_)) finally spark.stop()
  }

  /** Parses `args`. A malformed list, an unknown subcommand or an unknown
    * query name fails here, naming it, before any session starts.
    */
  private[graft] def command(args: Seq[String]): Command = args match {
    case Seq("time", dir, passes, names @ _*) if names.nonEmpty =>
      val (n, qs) = (int("passes", passes, 2), lookup(names))
      (spark, out) => time(spark, out, dir, n, qs)
    case Seq("stages", dir, name) =>
      val q = lookup(Seq(name)).head
      (spark, out) => stages(spark, out, dir, q)
    case Seq("plan", dir, names @ _*) if names.nonEmpty =>
      val qs = lookup(names)
      (spark, out) => qs.foreach(q => plan(spark, out, dir, q))
    case Seq("ingest", passes, nFiles) =>
      val (p, f) = (int("passes", passes, 1), int("nFiles", nFiles, 2))
      (spark, out) => (1 to p).foreach { i =>
        val r = Bench.benchIngest(spark, f)
        out(f"INGEST pass$i rows=${r.rows} sec=${r.seconds}%.2f " +
          f"rows_per_sec=${r.rowsPerSec}%.0f")
      }
    case Seq(sub, _*) if !Set("time", "stages", "plan", "ingest")(sub) =>
      bad(s"unknown subcommand '$sub'")
    case _ => bad("usage: time <sfDir> <passes> <query...> | " +
      "stages <sfDir> <query> | plan <sfDir> <query...> | ingest <passes> <nFiles>")
  }

  private def bad(msg: String) = throw new IllegalArgumentException(msg)

  private def lookup(names: Seq[String]): Seq[(String, Query)] =
    names.map(n => n -> SparkEntry.queries.getOrElse(n, bad(s"unknown query '$n'")))

  private def int(what: String, s: String, min: Int): Int =
    s.toIntOption.filter(_ >= min).getOrElse(bad(s"$what must be >= $min, got '$s'"))

  private def show(t: Bench.Timing): String =
    if (t.ok) Bench.f3(t.seconds) else "FAILED"

  private def time(spark: SparkSession, out: String => Unit, dir: String,
      passes: Int, qs: Seq[(String, Query)]): Unit = {
    val names = qs.map(_._1)
    def line(label: String, cells: Seq[String]) =
      out(s"TIME $label " + names.zip(cells).map { case (n, c) => s"$n=$c" }.mkString(" "))
    val runs = (1 to passes).map { i =>
      val ts = qs.map { case (_, q) => Bench.timeNoop(q(spark, dir)) }
      line(s"pass$i", ts.map(show))
      ts
    }
    line("min(pass2+)", qs.indices.map(j => runs.drop(1).map(_(j)).filter(_.ok)
      .map(_.seconds).minOption.fold("FAILED")(Bench.f3)))
  }

  private def stages(spark: SparkSession, out: String => Unit, dir: String,
      q: (String, Query)): Unit = {
    Bench.timeNoop(q._2(spark, dir)) // warm pass
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val (si, m) = (sc.stageInfo, sc.stageInfo.taskMetrics)
        val scopes = si.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString(",")
        rows.add(m.executorRunTime -> (f"${si.stageId}%5d ${m.executorRunTime}%6d " +
          f"${m.executorCpuTime / 1000000}%7d ${m.jvmGCTime}%7d " +
          f"${m.shuffleReadMetrics.fetchWaitTime}%7d ${si.numTasks}%5d " +
          f"${m.shuffleReadMetrics.totalBytesRead}%7d " +
          f"${m.shuffleWriteMetrics.bytesWritten}%7d  ${scopes.take(70)}"))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t = Bench.timeNoop(q._2(spark, dir))
    // drain BEFORE removing: the listener bus is async, so events still
    // queued at removal would never be delivered and the profile would
    // under-report the run's final stages
    drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    out(s"STAGES ${q._1} wall=${show(t)}")
    out("stage  runMs   cpuMs    gcMs  fetchW tasks   shufR   shufW  scopes")
    rows.toArray(Array.empty[(Long, String)]).sortBy(-_._1).foreach(r => out(r._2))
  }

  private def plan(spark: SparkSession, out: String => Unit, dir: String,
      q: (String, Query)): Unit = {
    out(s"\n================ ${q._1} ================")
    try {
      // execute THIS QueryExecution (a write would plan its own), so the
      // printed AdaptiveSparkPlan is the finalized one
      val qe = q._2(spark, dir).queryExecution
      qe.toRdd.count()
      out(qe.explainString(FormattedMode))
    } catch { case e: Throwable => out(s"PLAN FAILED: ${e.getMessage}") }
  }
}
