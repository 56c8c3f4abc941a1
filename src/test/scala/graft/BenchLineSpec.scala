package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver bench-record contract (r4/r5 postmortems): the driver
  * keeps only the final ~2 KB of stdout, so the ONE JSON line Bench prints
  * last must render under [[Bench.TailBudget]] bytes for any realistic query
  * count — r5's 119 full-precision doubles (~4.2 KB) were head-truncated
  * into an unparseable record. These tests exercise [[Bench.finalLine]]
  * directly: size budget, top-N auto-shrink, JSON well-formedness, and
  * locale-proof number rendering.
  */
class BenchLineSpec extends AnyFunSuite {

  private val ingest = Bench.IngestBench(13750.123456, 500000L, 36.363636)

  private def fakeResults(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => f"q${i}%03d_some_longish_operator_name" -> i * 0.0137)

  private def fakeSentinel(n: Int): Seq[(String, Double, Double)] =
    fakeResults(n).takeRight(5).map { case (k, v) => (k, v, v * 0.9) }

  test("final line fits the driver tail for 119 and 300 queries") {
    Seq(0, 1, 15, 119, 300).foreach { n =>
      val line = Bench.finalLine(fakeResults(n), ingest, "/root/testdata/sf0.1",
        fakeSentinel(n))
      assert(line.length <= Bench.TailBudget, s"n=$n line is ${line.length}B")
      assert(!line.contains("\n"), "must be a single line")
    }
  }

  test("sentinel dual timings ride the final line (stall-regime evidence)") {
    val line = Bench.finalLine(fakeResults(119), ingest, "sf", fakeSentinel(119))
    // both numbers of the pair, 3-decimal, array-valued per query
    assert(line.contains(
      "\"sentinel\":{\"q115_some_longish_operator_name\":[1.576,1.418]"), line)
    // empty sentinel still renders valid JSON
    assert(Bench.finalLine(fakeResults(3), ingest, "sf").contains("\"sentinel\":{}"))
  }

  test("line is parseable JSON with the contract fields") {
    // No JSON lib on the classpath by design; a shape check on the exact
    // serialization (which we control end-to-end) is sufficient here.
    val line = Bench.finalLine(fakeResults(119), ingest, "sfX")
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"))
    assert(line.endsWith("\"sf\":\"sfX\"}"))
    Seq("\"unit\":\"sec\"", "\"n\":119", "\"queries\":{",
      "\"ingest_rows_per_sec\":", "\"ingest_rows\":500000",
      "\"ingest_seconds\":36.364").foreach(f => assert(line.contains(f), f))
  }

  test("queries field carries the slowest entries first") {
    val line = Bench.finalLine(fakeResults(119), ingest, "sf")
    // slowest fake query is q119 (119 * 0.0137 = 1.630); it must survive
    assert(line.contains("\"q119_some_longish_operator_name\":1.630"))
    // fastest must have been shrunk away
    assert(!line.contains("\"q001_some_longish_operator_name\""))
  }

  test("selfCorrect publishes the min-of-three for sentinel queries only") {
    val firstPass = Seq("a" -> 4.8, "b" -> 2.0, "c" -> 1.0)
    val sentinel = Seq(("a", 4.8, 1.4), ("b", 2.0, 2.1))
    val got = Bench.selfCorrect(firstPass, sentinel).toMap
    assert(got("a") == 1.4) // stall corrected to the re-run
    assert(got("b") == 2.0) // re-run slower: first-pass min stands
    assert(got("c") == 1.0) // not in the top-5: untouched
  }

  test("protocol version rides the final line (r10 ADVICE: round-over-" +
    "round total comparability)") {
    val line = Bench.finalLine(fakeResults(119), ingest, "sf")
    assert(line.contains("\"protocol\":\"min3-top5+hist2x\""), line)
  }

  test("loadHistory parses a committed detail record; degrades to empty " +
    "on a missing/garbled file") {
    val tmp = java.nio.file.Files.createTempFile("bench_hist", ".json")
    java.nio.file.Files.write(tmp,
      ("""{"total":171.232,"n":2,"queries":{"q1_agg":0.168,""" +
        """"dedup_components":1.148},"sentinel":{"x":[1.0,0.9]},""" +
        """"sf":"/tmp/sf0.1"}""").getBytes("UTF-8"))
    val h = Bench.loadHistory(tmp.toString, "/tmp/sf0.1")
    assert(h == Map("q1_agg" -> 0.168, "dedup_components" -> 1.148))
    // the sentinel map (nested arrays) must NOT leak into the history
    assert(!h.contains("x"))
    // history from a different scale factor must be rejected
    assert(Bench.loadHistory(tmp.toString, "/root/testdata/sf0.001").isEmpty)
    assert(Bench.loadHistory("/nonexistent/path.json", "/tmp/sf0.1").isEmpty)
    java.nio.file.Files.delete(tmp)
  }

  test("a 15-entry sentinel (top-5 + 10 history re-runs) still fits the " +
    "tail budget, shrinking if needed") {
    val bigSentinel = (1 to 15).map(i =>
      (f"q${i}%03d_some_longish_operator_name", i * 1.234, i * 0.9))
    Seq(0, 119, 300).foreach { n =>
      val line = Bench.finalLine(fakeResults(n), ingest, "sf",
        bigSentinel, Seq("rec" -> 1.0, "graph" -> 2.0, "copurchase" -> 0.5))
      assert(line.length <= Bench.TailBudget, s"n=$n line is ${line.length}B")
      assert(line.contains("\"sentinel\":{\"q001_some_longish_operator_name\""))
    }
  }

  test("artifact build times ride both the final line and its budget") {
    val arts = Seq("rec" -> 9.123456, "graph" -> 1.2, "copurchase" -> 0.5)
    val line = Bench.finalLine(fakeResults(119), ingest, "sf",
      fakeSentinel(119), arts)
    assert(line.contains(
      "\"artifact_sec\":{\"rec\":9.123,\"graph\":1.200,\"copurchase\":0.500}"))
    assert(line.length <= Bench.TailBudget, s"line is ${line.length}B")
    // empty artifacts still render valid JSON
    assert(Bench.finalLine(fakeResults(3), ingest, "sf")
      .contains("\"artifact_sec\":{}"))
  }

  test("a failed query is counted on the line, which still fits at n = 300") {
    val line = Bench.finalLine(fakeResults(300), ingest, "sf",
      fakeSentinel(300), failed = 1)
    assert(line.contains("\"failed\":1,"), line)
    assert(line.length <= Bench.TailBudget, s"line is ${line.length}B")
    assert(Bench.finalLine(fakeResults(3), ingest, "sf").contains("\"failed\":0,"))
  }

  test("number rendering is 3-decimal, dot-separated, never scientific") {
    assert(Bench.f3(0.0001) == "0.000")
    assert(Bench.f3(1234567.891234) == "1234567.891")
    assert(Bench.f3(1e-9) == "0.000")
    val line = Bench.finalLine(Seq("q" -> 1e-9), ingest, "sf")
    assert(!line.toLowerCase.contains("e-"), "scientific notation breaks parsers")
  }
}
