package icebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one JSON result object as the last line of
  * standard output.
  *
  * Usage: `icebench.Main --workload <warehouse|query_mix> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --trace-out <dir>
  * --queries <list> --fixtures <dir> [--selftest] [--freeze <out>]`
  * (`icebench/run.py` builds the classpath and passes every path).
  *
  * `--selftest` injects a throwing and a wrong query into `query_mix` and
  * fails unless both count as failed; `--freeze` writes the fingerprints
  * of every query in `--queries` to `<out>` instead of running the loop.
  *
  * Set-up runs three times, each on a fresh session and a fresh work
  * directory; `setup_s` is the median (the first set-up also pays the
  * JVM's JIT compilation, so the median is a warm set-up). An untimed
  * warm-up follows the last set-up, and the timed loop runs on its state.
  * The loop's work is fixed: one block of ops, two with `--trace 1`, and
  * further whole blocks only while less than `--seconds` of wall time has
  * passed. With `--trace 1` every other op of each kind is traced, and the
  * per-layer metrics come from the traced ops.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, traceOut: Path, queries: Path, fixtures: Path,
      selftest: Boolean, freeze: Option[Path]) {
    /** Set-ups per run; one for the maintenance modes. */
    def setups: Int = if (selftest || freeze.isDefined) 1 else 3
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("trace-out")).toAbsolutePath,
      Paths.get(need("queries")).toAbsolutePath,
      Paths.get(need("fixtures")).toAbsolutePath,
      argv.contains("--selftest"),
      kv.get("freeze").map(Paths.get(_).toAbsolutePath))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session settings of graft.Bench: local[nproc], shuffle partitions
    * = nproc, AQE and ANSI on, UTC; scratch space inside the work dir.
    */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("icebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(a: Args): Workload = a.workload match {
    case "warehouse" => new WarehouseWorkload(a.seed)
    case "query_mix" => new QueryMixWorkload(a.seed, a.queries, a.fixtures)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try { run(a); 0 } catch {
      case e: Throwable =>
        System.err.println(s"icebench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace(System.err)
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    Files.createDirectories(a.work)
    // the loop's accounting first: a throwing op and a wrong answer must
    // both count as failed, never as a timed success
    SelfTest.accounting()

    workload(a).prepare(() => session(a.work.resolve("prepare")))
    val setupSeconds = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    for (k <- 1 to a.setups) {
      if (spark != null) { spark.stop(); spark = null }
      val dir = a.work.resolve(s"setup-$k")
      Harness.deleteTree(a.work.resolve(s"setup-${k - 1}"))
      val t0 = System.nanoTime()
      wl = workload(a)
      spark = wl.setup(() => session(dir), dir)
      setupSeconds += (System.nanoTime() - t0) / 1e9
      System.err.println(f"icebench: setup $k: ${setupSeconds.last}%.3f s")
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    System.err.println(f"icebench: warm-up: ${(System.nanoTime() - w0) / 1e9}%.3f s")

    if (a.selftest || a.freeze.isDefined) {
      wl match {
        case q: QueryMixWorkload if a.freeze.isDefined =>
          Harness.writeString(a.freeze.get, q.freeze().mkString("", "\n", "\n"))
        case _ => SelfTest.injected(wl)
      }
      spark.stop()
      return
    }

    val results = mutable.ArrayBuffer.empty[OpResult]
    val traced = mutable.ArrayBuffer.empty[(Op, OpResult)]
    val tracer = new Tracer(spark.sparkContext, enabled = a.trace)
    val plain = new Tracer(spark.sparkContext, enabled = false)
    // a traced run has two blocks and traces every other op of each kind,
    // starting at a kind-dependent parity, so each kind is traced as often
    // as not, in the same warm state, and the difference is the overhead
    val minOps = (if (a.trace) 2 else 1) * wl.blockSize
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    val pending = mutable.ArrayBuffer.empty[(Int, Op, Boolean, OpResult)]
    val loop0 = System.nanoTime()
    var i = 0
    // whole blocks only, so every run holds the workload's exact op mix
    while (!(i % wl.blockSize == 0 && i >= minOps && (System.nanoTime() - loop0) / 1e9 >= a.seconds)) {
      val op = wl.op(i)
      val isTraced = a.trace && (seen(op.kind) + (op.kind.hashCode & 1)) % 2 == 1
      seen(op.kind) += 1
      pending += ((i, op, isTraced,
        Harness.run(op, if (isTraced) tracer else plain, s"${a.workload}-$i")))
      if (!wl.deferChecks || (i + 1) % wl.blockSize == 0) {
        for ((k, o, tr, r0) <- pending) {
          val r = Harness.check(o, r0)
          if (tr) traced += (o -> r) else results += r
          report(k, r)
        }
        pending.clear()
      }
      i += 1
    }
    val finalErrors = wl.finalCheck()
    finalErrors.foreach(e => System.err.println(s"icebench: final check: $e"))

    val all = results ++ traced.map(_._2)
    val ok = all.filter(_.ok)
    val failed = all.count(!_.ok) + finalErrors.size
    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        val byKind = ok.groupBy(_.kind).values.map(rs => Harness.median(rs.map(_.seconds).toSeq))
        Seq(
          ("setup_s", "s", Harness.median(setupSeconds.toSeq)),
          ("op_gmean_s", "s", math.exp(byKind.map(math.log).sum / byKind.size)),
          ("ops_per_s", "1/s", ok.size / results.map(_.seconds).sum),
          ("rows_per_s", "rows/s", wl.rowsPerSecond(results.toSeq)))
      } else {
        val layer = wl.layerMetrics(tracer, traced.toSeq)
        val overhead = Catalog.overheadPct(results.toSeq, traced.map(_._2).toSeq)
        Catalog.perLayer.map { case (n, u) =>
          (n, u, if (n == "trace.overhead_pct") overhead else layer.getOrElse(n, 0.0))
        }
      }
    if (a.trace) writeTrace(a, tracer, traced.toSeq, metrics)
    spark.stop()

    val m = metrics.map { case (n, u, v) =>
      s"${Harness.jsonStr(n)}: {\"value\": ${Harness.jsonNum(v)}, \"unit\": ${Harness.jsonStr(u)}}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size + finalErrors.size}, """ +
      s""""failed": $failed, "metrics": $m}""")
  }

  private def report(i: Int, r: OpResult): Unit =
    System.err.println(f"icebench: op $i%d ${r.kind} ${r.seconds}%.3f s (check ${r.checkSeconds}%.3f s)" +
      (if (r.ok) "" else s" FAILED ${r.error}"))

  /** Spans, per-op job counts by layer and the per-layer summary, written
    * once at the end of the run.
    */
  private def writeTrace(a: Args, t: Tracer, ops: Seq[(Op, OpResult)],
      metrics: Seq[(String, String, Double)]): Unit = {
    import Harness.{jsonNum, jsonStr}
    def span(s: Span) =
      s"""{"level":${jsonStr(s.level)},"name":${jsonStr(s.name)},""" +
        s""""parent":${jsonStr(s.parent)},"request":${jsonStr(s.request)},""" +
        s""""start_ms":${jsonNum(s.startMs)},"end_ms":${jsonNum(s.endMs)}}"""
    val spans = (t.allSpans ++ t.jobSpans).map(span).mkString("[\n", ",\n", "\n]")
    val self = t.selfSeconds.toSeq.sorted
      .map { case (k, v) => s"${jsonStr(k)}:${jsonNum(v)}" }.mkString("{", ",", "}")
    val summary = metrics.map { case (n, _, v) => s"${jsonStr(n)}:${jsonNum(v)}" }
      .mkString("{", ",", "}")
    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s"${jsonStr(k)}:${jsonNum(v)}" }.mkString("{", ",", "}")
    val opJobs = ops.map { case (op, r) =>
      val byLayer = t.jobs(r.request).groupBy(_.layer).toSeq.sortBy(_._1)
        .map { case (l, js) => l -> js.size.toDouble }
      s"""{"request":${jsonStr(r.request)},"kind":${jsonStr(r.kind)},""" +
        s""""seconds":${jsonNum(r.seconds)},"ok":${r.ok},"jobs":${obj(byLayer)},""" +
        s""""counters":${obj(op.counters.toSeq.sorted)}}"""
    }.mkString("[\n", ",\n", "\n]")
    val out = a.traceOut.resolve(s"trace-${a.workload}-${a.seed}.json")
    Harness.writeString(out,
      s"""{"workload":${jsonStr(a.workload)},"seed":${a.seed},"self_s":$self,""" +
        s""""per_layer":$summary,"ops":$opJobs,"spans":$spans}""" + "\n")
    System.err.println(s"icebench: self seconds per layer: $self")
    System.err.println(s"icebench: trace written to $out")
  }
}
