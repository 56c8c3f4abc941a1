package icebench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.ops.Graph

/** The frozen query list: `name<TAB>fingerprint` lines, `#` comments. A
  * line with a name only has no fingerprint yet (input to `--freeze`).
  */
object QueryList {
  def load(p: Path): Seq[(String, Option[Fingerprint])] =
    Harness.readString(p).linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> f.lift(1).map(Fingerprint.parse) }.toSeq

  /** Family of a query for the `ops.*_s` sums; core = the a/j/p/q/w SQL
    * operator queries and `latest_view`.
    */
  def family(name: String): String = {
    val head = name.takeWhile(_ != '_')
    if (name == "latest_view" || head.matches("[ajpqw][0-9]+[a-z]?")) "core" else head
  }
  val Families = Seq("graph", "hier", "dedup", "sim", "stat", "eval", "text", "assoc", "core")
}

/** `query_mix`: a frozen list of `SparkEntry.queries` over generated
  * fixture tables. One block is one pass over the whole list in a seeded
  * order; every result is checked against its frozen fingerprint.
  */
final class QueryMixWorkload(seed: Long, listFile: Path, fixtures: Path) extends Workload {
  private val list = QueryList.load(listFile)
  private val expected = list.toMap
  private val deck = new Deck(list.map(_._1), seed)
  private var spark: SparkSession = _
  private var dir: String = _
  private var returned = 0L
  /** Seconds per memo artifact build, measured inside set-up. */
  val memoSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def blockSize: Int = deck.blockSize
  /** The queries of a pass run back to back, as a reader's would; each
    * check's second execution runs after the pass, never between two
    * timed queries.
    */
  override def deferChecks: Boolean = true

  /** One unchecked pass over the list in list order: the timed pass then
    * measures each query's steady state, not its first codegen and JIT.
    */
  def warmUp(): Unit = {
    val off = new Tracer(spark.sparkContext, enabled = false)
    list.foreach { case (n, fp) => scala.util.Try(new QueryOp(n, fp).run(off)) }
  }
  def rowsDone: Long = returned

  /** The fixture tables are ready before the clock starts (see
    * [[FixtureGen.ensure]]); set-up is the session and the memo builds.
    */
  override def prepare(session: () => SparkSession): Unit =
    if (!FixtureGen.complete(fixtures)) {
      val s = session()
      FixtureGen.ensure(s, fixtures)
      s.stop()
    }

  def setup(session: () => SparkSession, work: Path): SparkSession = {
    spark = session()
    dir = fixtures.toString
    buildMemos()
    System.err.println("icebench: memo builds " +
      memoSeconds.map { case (k, v) => f"$k $v%.3f s" }.mkString(", "))
    spark
  }

  /** The memoized artifact the list's queries share — the interaction
    * graph `graph_hits` reads — built the way graft.Bench.benchArtifacts
    * builds it: invalidate, then force. Bench's recommendation,
    * co-purchase and dedup memos are left out: no query of the list reads
    * them.
    */
  private def buildMemos(): Unit = {
    def t(name: String)(body: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      body.write.format("noop").mode("overwrite").save()
      memoSeconds(name) = (System.nanoTime() - t0) / 1e9
    }
    Graph.invalidateInteractionGraphs()
    t("graph") {
      val g = Graph.interactionGraphFor(dir, Tables.lineitem(spark, dir))
      g.lpaLabels(2)
      g.weightedEdges
      g.withDeg
    }
  }

  /** Timed: build, plan, and execute into the `noop` sink, as graft.Bench
    * does. The check executes the planned query a second time, after the
    * pass, to fingerprint its rows.
    */
  final class QueryOp(val kind: String, want: Option[Fingerprint]) extends Op {
    var df: DataFrame = _
    var got: Fingerprint = _
    override def counters: Map[String, Double] =
      if (got == null) Map.empty else Map("rows" -> got.rows.toDouble)
    def run(t: Tracer): Unit = {
      df = t.layer("query.build")(SparkEntry.queries(kind)(spark, dir))
      t.layer("query.plan")(df.queryExecution.executedPlan)
      t.layer("query.exec")(df.write.format("noop").mode("overwrite").save())
    }
    def check(): Unit = {
      got = Fingerprint.of(df)
      if (!want.contains(got))
        throw new WrongAnswer(s"$kind gave ${got.render}, frozen ${want.map(_.render)}")
      returned += got.rows
    }
  }

  def op(i: Int): Op = new QueryOp(deck(i), expected(deck(i)))

  /** Ops for the self-test: one query that throws, one with a wrong answer. */
  def injected(): Seq[Op] = Seq(
    new QueryOp("no_such_query", Some(Fingerprint(0L, 0L))),
    new QueryOp(list.head._1, Some(Fingerprint(-1L, 0L))))

  /** `name<TAB>fingerprint` for the whole list in a seeded order, for
    * freezing a new list; a query that throws is left out.
    */
  def freeze(): Seq[String] = (0 until blockSize).flatMap { i =>
    val op = new QueryOp(deck(i), None)
    try {
      op.run(new Tracer(spark.sparkContext, enabled = false))
      op.got = Fingerprint.of(op.df)
      Some(s"${op.kind}\t${op.got.render}")
    } catch { case e: Throwable =>
      System.err.println(s"icebench: freeze: ${op.kind} threw ${e.getMessage}")
      None
    }
  }

  def layerMetrics(t: Tracer, traced: Seq[(Op, OpResult)]): Map[String, Double] = {
    val ok = traced.map(_._2).filter(_.ok)
    if (ok.isEmpty) return Map.empty
    val n = ok.size.toDouble
    val passes = traced.size.toDouble / blockSize
    def secs(layer: String) =
      ok.map(r => t.layerSpans(layer).filter(_.request == r.request).map(_.seconds).sum).sum
    def jobs(layer: String) = ok.flatMap(r => t.jobs(r.request, layer))
    val execStages = t.stages(jobs("query.exec"))
    val families = QueryList.Families.map { f =>
      s"ops.${f}_s" -> ok.filter(r => QueryList.family(r.kind) == f).map(_.seconds).sum / passes
    }
    Map(
      "query.build_s" -> secs("query.build") / n,
      "query.build_jobs" -> jobs("query.build").size / n,
      "query.plan_s" -> secs("query.plan") / n,
      "query.exec_s" -> secs("query.exec") / n,
      "query.exec_jobs" -> jobs("query.exec").size / n,
      "query.stages" -> execStages.size / n,
      "query.single_task_stages" -> execStages.count(_.tasks == 1) / n,
      "query.tasks" -> execStages.map(_.tasks.toDouble).sum / n,
      "query.shuffle_bytes" -> execStages.map(_.shuffleBytes.toDouble).sum / n,
      "query.spill_bytes" -> execStages.map(_.spillBytes.toDouble).sum / n,
      "query.gc_s" -> execStages.map(_.gcMs.toDouble).sum / 1e3 / n) ++
      families ++ memoSeconds.map { case (k, v) => s"memo.${k}_build_s" -> v }
  }
}
