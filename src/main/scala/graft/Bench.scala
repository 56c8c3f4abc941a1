package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR plus
  * the WRITE path ([[benchIngest]] — the reference's actual workload, which
  * the query suite alone never exercises) and prints exactly ONE JSON line,
  * LAST (driver contract). The round-4 formulation printed the ingest
  * numbers as a second JSON line after the suite line; the driver records
  * only the final ~2 KB of output, so the ingest run's log tail pushed the
  * per-query numbers out of the record. Ingest metrics now ride the same
  * object (`ingest_*` fields) and nothing prints after it.
  *
  * Runs one untimed warmup pass first: a cold JVM spends tens of seconds
  * JIT-compiling the planner/codegen stack, which would otherwise be billed
  * almost entirely to whichever queries happen to run first (observed: 30-50 s
  * attributed to sub-second plans). The timed pass then measures steady-state
  * execution — the number that actually predicts cluster throughput.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.localSession()
    val names = SparkEntry.queries.keys.toSeq.sorted
    def timed(name: String): Timing =
      timeNoop(SparkEntry.queries(name)(spark, sfDir))
    names.foreach(timed) // warmup: JIT + codegen cache, result discarded
    // Committed per-query history, read BEFORE this run overwrites the
    // detail file — the r10 verdict's mid-pack stall evidence (entries 2-6x
    // their unchanged-code history, invisible to a top-5-only sentinel).
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val history = loadHistory(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", detailPath), sfDir)
    // min of two timed passes: the environment shows intermittent multi-10x
    // stalls (external CPU contention / JIT storms) that would otherwise be
    // billed to whichever query they land on; the min is the steady-state.
    // A query that throws in any timed pass is reported as failed and kept
    // out of the total: its time-to-failure is not a query time.
    val passes = names.map(name => name -> Seq(timed(name), timed(name)))
    val firstPass = passes.collect {
      case (name, ts) if ts.forall(_.ok) => name -> ts.map(_.seconds).min }
    // Variance sentinel: twice now a driver record has carried a 10-16x
    // anomalous entry that local steady state contradicted (machine-stall
    // regime, BASELINE.md footnotes 10/13 + the r8 triples entry). Re-time
    // this run's top-5 cost centers once more AT THE END of the suite and
    // publish both numbers: a stalled record is then self-evident (suite
    // number >> sentinel re-run of the same binary seconds later) instead
    // of needing a post-hoc Diag adjudication. Protocol v3 (r10 verdict
    // task 1) extends the sentinel BELOW the top-5: any query whose first
    // pass exceeds 2x its committed-history entry gets the same third
    // timing (capped at MaxHistoryReruns, worst inflation first), so a
    // mid-pack stall can no longer ride the record unchallenged — the
    // record publishes min-of-three with both raw numbers in the sentinel
    // field, exactly like the top-5.
    val top5 = firstPass.sortBy { case (_, v) => -v }.take(5)
    val top5Names = top5.map(_._1).toSet
    val inflated = firstPass
      .filter { case (n, v) =>
        !top5Names.contains(n) && history.get(n).exists(h => h > 0 && v > 2 * h) }
      .sortBy { case (n, v) => -(v / history(n)) }
      .take(MaxHistoryReruns)
    val reruns = (top5 ++ inflated)
      .map { case (name, suiteSec) => (name, suiteSec, timed(name)) }
    val sentinel = reruns.collect { case (n, a, t) if t.ok => (n, a, t.seconds) }
    val failed =
      passes.flatMap { case (n, ts) => ts.flatMap(_.failure).take(1).map(n -> _) } ++
        reruns.flatMap { case (n, _, t) => t.failure.map(n -> _) }
    failed.foreach { case (n, e) =>
      System.err.println(s"[bench] $n failed: ${e.getMessage}") }
    val failedNames = failed.map(_._1)
    val results = selfCorrect(firstPass, sentinel)
      .filterNot { case (n, _) => failedNames.contains(n) }
    val total = results.map(_._2).sum
    // One-time artifact build cost (r9 ADVICE): the timed passes ride the
    // session memos by design, so the cold-session cost of each memoized
    // artifact is re-measured explicitly (invalidate -> rebuild) and
    // published as its own record lines instead of vanishing into the
    // untimed warmup.
    val artifacts = benchArtifacts(spark, sfDir)
    val ingest = benchIngest(spark) // runs BEFORE the suite line prints
    // The driver records only the final ~2 KB of output. 119 per-query
    // doubles at full precision is ~4.2 KB — the r5 line was head-truncated
    // and unparseable. The final line therefore carries the total plus the
    // top-N slowest queries only (N auto-shrunk until the line provably fits
    // TailBudget bytes); the complete per-query map goes to a detail file
    // written BEFORE the final line so nothing prints after it.
    writeDetail(detailPath,
      s"""{"total":${f3(total)},"n":${results.size},"queries":${jMap(results)},""" +
        s""""failed":${failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""sentinel":${jSentinel(sentinel)},"artifact_sec":${jMap(artifacts)},""" +
        s""""ingest_rows_per_sec":${f3(ingest.rowsPerSec)},"sf":"$sfDir"}""")
    val line = finalLine(results, ingest, sfDir, sentinel, artifacts, failedNames.size)
    // Durable copy of the EXACT final line (r13 verdict task 2): thirteen
    // straight driver records carry `parsed: null` because the stdout line
    // reached the log behind sbt's `[info] ` logger prefix. The line is now
    // (a) written to a stable committed path before anything prints, and
    // (b) printed via the forked JVM's raw stdout (build.sbt routes forked
    // run output through StdoutOutput, no logger prefixing), flushed, as
    // the absolute last output. Same numbers, same protocol — a recording
    // fix, not a methodology change.
    writeDetail(sys.env.getOrElse("SPARK_GRAFT_BENCH_LINE", "BENCH_LINE.json"), line)
    println(line)
    System.out.flush()
    spark.stop()
  }

  /** Self-correcting record (r9 verdict task 3, extended r11): when a
    * sentinel re-run disagrees with the recorded pass, the published entry
    * for a sentinel query is the MIN of its three timings — min-of-three
    * for the top-5 cost centers plus any history-inflated entries, zero
    * protocol change elsewhere; both raw numbers stay in the sentinel
    * field so a corrected stall remains visible in the record.
    */
  private[graft] def selfCorrect(
      firstPass: Seq[(String, Double)],
      sentinel: Seq[(String, Double, Double)]): Seq[(String, Double)] = {
    val corrected = sentinel.map { case (n, a, b) => n -> math.min(a, b) }.toMap
    firstPass.map { case (n, v) => n -> corrected.getOrElse(n, v) }
  }

  /** Cap on history-triggered sentinel re-runs per record: bounds the
    * protocol's extra cost to ~10 re-timed queries even if a machine-wide
    * stall inflates half the suite (in which regime the top-ratio entries
    * are exactly the ones worth the third timing).
    */
  private[graft] val MaxHistoryReruns = 10

  /** Per-query seconds from a previously committed detail record — the
    * baseline the history sentinel compares against. Parsed with a
    * regex over the flat `"queries":{...}` map (no JSON lib on the
    * classpath by design; we control the serialization end-to-end).
    * History from a DIFFERENT scale factor is rejected (a sf0.001 smoke
    * run against committed sf0.1 history would mis-trigger — or worse,
    * mis-suppress — re-runs). Missing/unreadable file → empty map →
    * protocol degrades to the r10 top-5-only behavior, never fails the
    * run.
    */
  private[graft] def loadHistory(
      path: String, sfDir: String): Map[String, Double] =
    try {
      val s = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      val start = s.indexOf("\"queries\":{")
      if (start < 0 || !s.contains("\"sf\":\"" + sfDir + "\"")) Map.empty
      else {
        val body = s.substring(start + 11, s.indexOf('}', start))
        """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** Cold-session build cost of each memoized artifact the suite's queries
    * share (the rec table, the interaction graph incl. its 2-round LPA
    * labels, the strong-tie co-purchase edges): invalidate every memo,
    * rebuild, and time the builds — the number a fresh session pays once
    * before the per-query steady states apply.
    */
  private[graft] def benchArtifacts(
      spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    // A failed build must not publish its time-to-failure as a plausible
    // artifact_sec (r10 ADVICE): the sign is the error marker — negative
    // seconds = the build threw, magnitude = when it died.
    def t(body: => DataFrame): Double = {
      val r = timeNoop(body)
      if (r.ok) r.seconds else -r.seconds
    }
    graft.ops.Memo.invalidate()
    Seq(
      "rec" -> t(graft.ops.Recommend.recommendationsFor(
        sfDir, Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir))),
      "graph" -> t {
        val g = graft.ops.Graph.interactionGraphFor(
          sfDir, Tables.lineitem(spark, sfDir))
        g.lpaLabels(2) // forces edges + deg on the way
        g.weightedEdges // sssp's weighted face (r11)
        g.withDeg
      },
      "copurchase" -> t(graft.ops.Graph.coPurchaseEdgesFor(
        sfDir, Tables.lineitem(spark, sfDir), minSupport = 2)),
      "dedup" -> t {
        // the full family build: tokenization, signatures, all three
        // candidate-pair sets, and the component clustering
        val a = graft.ops.Dedup.dedupArtifactsFor(
          sfDir, Tables.documents(spark, sfDir))
        a.components // forces tok -> sigs -> minhashPairs on the way
        a.simhashPairs
        a.ngramPairs
      })
  }

  /** One timed run into the `noop` sink: `seconds` runs to completion or
    * to the throw, and `failure` holds the throw.
    */
  private[graft] case class Timing(seconds: Double, failure: Option[Throwable]) {
    def ok: Boolean = failure.isEmpty
  }

  /** Times `df` — construction included, since a query's build can run
    * eager jobs — into a `noop`-format write, NOT count(): count() on a
    * trivially-projected query can collapse to Parquet's count-aggregate
    * pushdown (never executing the projections being timed); the noop sink
    * fully evaluates every output row and discards it.
    */
  private[graft] def timeNoop(df: => DataFrame): Timing = {
    val t0 = System.nanoTime()
    val failure =
      try { df.write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }
    Timing((System.nanoTime() - t0) / 1e9, failure)
  }

  /** Driver tail capacity the final line must fit inside, with headroom. */
  private[graft] val TailBudget = 1900

  /** The single driver-facing JSON line: total + the top-N slowest queries,
    * N auto-shrunk (15→10→5→0) until the rendered line fits [[TailBudget]];
    * if the (now up to 15-entry) sentinel still overflows the budget at
    * topN=0, the sentinel itself shrinks (its entries are ordered top-5
    * first, then history-inflations by ratio — the tail is the first to
    * go). `protocol` names the correction rule in force so round-over-round
    * total comparisons can account for it (r10 ADVICE: min-of-three was
    * silently asymmetric vs earlier min-of-two rounds).
    */
  private[graft] def finalLine(
      results: Seq[(String, Double)], ingest: IngestBench, sfDir: String,
      sentinel: Seq[(String, Double, Double)] = Nil,
      artifacts: Seq[(String, Double)] = Nil, failed: Int = 0): String = {
    val total = results.map(_._2).sum
    val slowest = results.sortBy { case (_, v) => -v }
    def line(topN: Int, sentN: Int): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","n":${results.size},""" +
        s""""failed":$failed,""" +
        s""""protocol":"min3-top5+hist2x",""" +
        s""""queries":${jMap(slowest.take(topN))},""" +
        s""""sentinel":${jSentinel(sentinel.take(sentN))},""" +
        s""""artifact_sec":${jMap(artifacts)},""" +
        s""""ingest_rows_per_sec":${f3(ingest.rowsPerSec)},"ingest_rows":${ingest.rows},""" +
        s""""ingest_seconds":${f3(ingest.seconds)},"sf":"$sfDir"}"""
    val tries = (15 to 0 by -5).map(n => (n, sentinel.size)) ++
      Seq((0, 10), (0, 5), (0, 0))
    tries.map { case (q, sn) => line(q, sn) }.find(_.length <= TailBudget)
      .getOrElse(line(0, 0))
  }

  /** `{"name":[suite_sec,end_of_run_sec],...}` — the dual timings whose
    * disagreement flags a stall regime (see the sentinel comment in main).
    */
  private[graft] def jSentinel(s: Seq[(String, Double, Double)]): String =
    s.map { case (k, a, b) => "\"" + k + "\":[" + f3(a) + "," + f3(b) + "]" }
      .mkString("{", ",", "}")

  private[graft] def jMap(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")

  /** 3-decimal, locale-fixed rendering — keeps the final line small and the
    * JSON valid regardless of the JVM's default locale.
    */
  private[graft] def f3(v: Double): String =
    java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def writeDetail(path: String, json: String): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () } // detail is best-effort; never risk the line

  private[graft] case class IngestBench(rowsPerSec: Double, rows: Long, seconds: Double)

  /** Write-path benchmark: ingests `nFiles` synthetic one-date drops through
    * the full [[graft.icenet.Pipeline]] (geometry first-write-wins insert,
    * fact anti-join append with partition pruning, latest-view refresh, meta
    * upsert) into a fresh warehouse, and reports raw rows/second. The first
    * file (table bootstrap) is ingested untimed so the number reflects
    * steady-state incremental ingest — the regime a long-lived warehouse
    * lives in, where anti-join pruning and view refresh cost dominate.
    */
  private[graft] def benchIngest(
      spark: SparkSession, nFiles: Int = 6,
      nLead: Int = 10, nY: Int = 100, nX: Int = 100): IngestBench = {
    val whPath = java.nio.file.Files.createTempDirectory("graft_bench_wh")
    try {
      val pipe = new graft.icenet.Pipeline(spark, whPath.toString, graft.icenet.North)
      val rowsPerFile = nLead.toLong * nY * nX
      pipe.ingest(syntheticRaw(spark, 0, nLead, nY, nX)) // bootstrap, untimed
      val t0 = System.nanoTime()
      (1 until nFiles).foreach(i => pipe.ingest(syntheticRaw(spark, i, nLead, nY, nX)))
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = (nFiles - 1).toLong * rowsPerFile
      IngestBench(if (sec > 0) rows / sec else 0.0, rows, sec)
    } finally { // don't leak ~600k rows of parquet per bench run
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(whPath).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** One synthetic raw long-form drop (the shape Ingest.load expects), built
    * distributed from spark.range — file `i` carries generation date
    * 2021-01-01 + i, so successive ingests exercise new-partition appends
    * plus anti-join pruning against all prior dates.
    */
  private[graft] def syntheticRaw(
      spark: SparkSession, i: Int, nLead: Int, nY: Int, nX: Int): DataFrame =
    spark.range(nLead.toLong * nY * nX).select(
      timestamp_seconds(lit(1609459200L + i * 86400L)).as("time"),
      ((col("id") / (nY * nX)).cast("int") + 1).as("leadtime"),
      (lit(-537.5) + (col("id") / nX % nY).cast("int") * 25.0).as("yc"),
      (lit(-262.5) + (col("id") % nX).cast("int") * 25.0).as("xc"),
      (pmod(col("id") * 7 + i, lit(19)).cast("int") / 10.0 - 0.4).as("sic_mean"),
      (pmod(col("id"), lit(7)).cast("int") / 100.0).as("sic_stddev"))
}
