package graft

/** The dev probe's subcommands on the smallest fixture: output shape of
  * `time`, `plan` and `stages`, and loud, named failures for bad arguments.
  */
class ProbeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(args: String*): Seq[String] = {
    val lines = Seq.newBuilder[String]
    Probe.command(args)(spark, lines += _)
    lines.result()
  }

  test("time prints every pass plus the minimum over passes 2+") {
    val out = run("time", dir, "2", "p2_filter")
    assert(out.size == 3, out)
    assert(out(0).matches("""TIME pass1 p2_filter=\d+\.\d{3}"""), out)
    assert(out(1).matches("""TIME pass2 p2_filter=\d+\.\d{3}"""), out)
    assert(out(2).matches("""TIME min\(pass2\+\) p2_filter=\d+\.\d{3}"""), out)
  }

  // Not latest_view: its id step (GlobalRowNumber) runs the view body
  // while building, so its final plan is one scan over the numbered RDD.
  test("plan prints the executed, final adaptive plan with scan pushdown") {
    val out = run("plan", dir, "q3_shipping_priority").mkString("\n")
    assert(out.contains("isFinalPlan=true"), out)
    assert(out.contains("PushedFilters"), out)
    assert(!out.contains("PLAN FAILED"), out)
  }

  test("plan reports a failing query and goes on to the next") {
    val out = run("plan", "/no/such/sf", "p2_filter", "q3_shipping_priority")
    assert(out.count(_.startsWith("PLAN FAILED")) == 2, out)
    assert(out.exists(_.contains("q3_shipping_priority")), out)
  }

  test("stages prints the wall time and a per-stage table") {
    val out = run("stages", dir, "q3_shipping_priority")
    assert(out.head.matches("""STAGES q3_shipping_priority wall=\d+\.\d{3}"""), out)
    assert(out(1).startsWith("stage  runMs"), out)
    assert(out.size > 2, out)
  }

  test("unknown subcommands and query names fail naming the culprit") {
    val sub = intercept[IllegalArgumentException](Probe.command(Seq("tyme", dir)))
    assert(sub.getMessage.contains("'tyme'"), sub.getMessage)
    val q = intercept[IllegalArgumentException](
      Probe.command(Seq("time", dir, "2", "p2_filter", "no_such_query")))
    assert(q.getMessage.contains("'no_such_query'"), q.getMessage)
    val p = intercept[IllegalArgumentException](
      Probe.command(Seq("plan", dir, "no_such_query")))
    assert(p.getMessage.contains("'no_such_query'"), p.getMessage)
  }
}
