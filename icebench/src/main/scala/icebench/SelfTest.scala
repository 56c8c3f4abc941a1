package icebench

/** Proof that the loop never times a failure as a success. */
object SelfTest {
  private final class Fake(val kind: String, runs: () => Unit, checks: () => Unit) extends Op {
    def run(t: Tracer): Unit = runs()
    def check(): Unit = checks()
  }

  /** Spark-free: a throwing op and a wrong answer both count as failed. */
  def accounting(): Unit = {
    val off = new Tracer(null, enabled = false)
    val rs = Seq(
      new Fake("good", () => (), () => ()),
      new Fake("throws", () => throw new IllegalStateException("injected"), () => ()),
      new Fake("wrong", () => (), () => throw new WrongAnswer("injected"))
    ).map(op => Harness.timed(op, off, op.kind))
    if (rs.map(_.ok) != Seq(true, false, false))
      throw new IllegalStateException(s"failure accounting is broken: $rs")
  }

  /** With Spark: a query that throws and a query whose answer disagrees
    * with its fingerprint both count as failed ops. Prints one JSON line.
    */
  def injected(wl: Workload): Unit = wl match {
    case q: QueryMixWorkload =>
      val off = new Tracer(null, enabled = false)
      val rs = q.injected().zipWithIndex.map { case (op, i) => Harness.timed(op, off, s"inject-$i") }
      rs.foreach(r => System.err.println(s"icebench: injected ${r.kind}: ${r.error}"))
      val failed = rs.count(!_.ok)
      println(s"""{"selftest": "query_mix", "attempted": ${rs.size}, "failed": $failed}""")
      if (failed != 2) throw new IllegalStateException("an injected failure was not counted")
    case _ => throw new IllegalArgumentException("--selftest runs on query_mix")
  }
}
