package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's adaptive re-run policy (Bench.adaptiveSamples) in
  * isolation: a deliberately injected host-window stall must converge to
  * a min within noise of the uncontaminated value, extra passes must be
  * bounded, and clean / failed sample sets must not trigger re-runs.
  * The stdout line the driver parses (Bench.line) is pinned here too:
  * its key order and its fit in the driver's 2000-char tail capture.
  * (No SparkSession — both are pure functions by design.)
  */
class BenchPolicySpec extends AnyFunSuite {

  test("injected stall converges to the clean min via bounded extras") {
    // r13's q_er_best_match shape: one contaminated window inflated the
    // medians (24.7s) while the clean runtime is ~4-5s
    var served = List(4.1, 4.2)
    val next = () => { val h = served.head; served = served.tail; h }
    val out = Bench.adaptiveSamples(List(24.7, 23.9, 4.0), next)
    assert(out.size == 5, "two extra passes, no more")
    assert(out.min == 4.0, "min stays the clean sample")
    assert(out.count(_ < 6.0) == 3, "extras sampled the clean regime")
  }

  test("stall on two of three standard passes still recovers a clean min") {
    val out = Bench.adaptiveSamples(List(26.0, 24.0, 4.1), () => 4.15)
    assert(out.min == 4.1 && out.size == 5,
      "extras confirm the clean regime so the min is trustworthy")
  }

  test("clean samples trigger no extra passes") {
    val out = Bench.adaptiveSamples(List(5.0, 5.4, 5.2),
      () => fail("must not re-run a clean query"))
    assert(out == List(5.0, 5.4, 5.2))
  }

  test("spread at/below threshold triggers no extra passes") {
    val out = Bench.adaptiveSamples(List(10.0, 2.0),
      () => fail("spread == 5.0 is not > threshold"))
    assert(out.size == 2)
  }

  test("failure-signature samples (~0 min) are left alone") {
    // a query that threw returns in ~ms; spread over failure-speed
    // samples is meaningless and must not buy it extra passes
    val out = Bench.adaptiveSamples(List(0.0005, 12.0, 11.0),
      () => fail("must not re-run a failed query"))
    assert(out.size == 3)
  }

  test("the stdout line keeps its key order and fits the 2000-char tail") {
    // worst case for the fit: every key of the inventory, the longest
    // names slowest (they fill the top 20) and widest-spread, and
    // four-digit timings
    val names = (SparkEntry.queries ++ SparkEntry.benchOnly).keys.toSeq
      .sortBy(n => (-n.length, n))
    val samples = names.zipWithIndex.map { case (n, i) =>
      n -> List(9999.999 - i, 1000.0 - i / 10.0, 9000.0 - i) }.toMap
    val results = names.sorted.map(n => n -> Bench.median(samples(n)))
    val spreadHi = names.take(12).map(n => n -> 99.99)
    val line = Bench.line(results, spreadHi, 3, 12.345, 6.789, 374,
      "\"BENCH_FULL.json\"", "/root/testdata/sf0.1")
    assert(line.length <= 2000, s"${line.length} chars")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    def keys(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
      val it = n.fieldNames()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    assert(keys(json) == Seq("metric", "value", "unit", "runs", "calib_s",
      "calib_fp_s", "total_norm", "queries", "rest_n", "rest_total",
      "spread_hi", "failed_n", "full", "sf"))
    // the top 20 by median, slowest first, ties by name
    assert(keys(json.get("queries")) ==
      results.sortBy(r => (-r._2, r._1)).take(20).map(_._1))
    assert(json.get("rest_n").asInt == names.size - 20)
    assert(keys(json.get("spread_hi")) == spreadHi.map(_._1).sorted.take(10))
  }
}
