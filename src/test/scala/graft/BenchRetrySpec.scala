package graft

import org.scalatest.funsuite.AnyFunSuite

/** The degraded-retry policy (VERDICT r9 #3) as executable semantics:
  * BENCH_r09 shipped a degraded:true wall because the bench measured
  * through a starved window and stopped; these pin the rules the
  * round-10 bench follows instead. Pure-JVM (the policy functions are
  * extracted from the run loop precisely so this spec exists). */
class BenchRetrySpec extends AnyFunSuite {

  test("the configured passes always run, healthy or not") {
    assert(Bench.needAnotherPass(0, 3, Seq(), 0, 3))
    assert(Bench.needAnotherPass(2, 3, Seq(false, false), 0, 3))
    // third configured pass still due even though the first two were clean
    assert(Bench.needAnotherPass(2, 3, Seq(false, true), 0, 3))
  }

  test("all-degraded budget exhausted -> retry, until one healthy pass lands") {
    // 3 configured passes all degraded: retries are granted
    assert(Bench.needAnotherPass(3, 3, Seq(true, true, true), 0, 3))
    assert(Bench.needAnotherPass(4, 3, Seq(true, true, true, true), 1, 3))
    // a healthy pass (even as a retry) ends the retrying immediately
    assert(!Bench.needAnotherPass(4, 3, Seq(true, true, true, false), 1, 3))
    // retries bounded: after maxRetries all-degraded, stop
    assert(!Bench.needAnotherPass(6, 3, Seq.fill(6)(true), 3, 3))
  }

  test("retry backoff doubles from the base and caps at 8x (VERDICT r15 #1)") {
    // 45s base: 45/90/180/360 then flat 360 — the budget must outlast
    // a multi-minute co-tenant instead of burning flat 45s sleeps
    assert(Bench.retryBackoff(45000L, 1) == 45000L)
    assert(Bench.retryBackoff(45000L, 2) == 90000L)
    assert(Bench.retryBackoff(45000L, 3) == 180000L)
    assert(Bench.retryBackoff(45000L, 4) == 360000L)
    assert(Bench.retryBackoff(45000L, 5) == 360000L)
    assert(Bench.retryBackoff(45000L, 99) == 360000L)
    // degenerate inputs stay sane
    assert(Bench.retryBackoff(45000L, 0) == 45000L)
  }

  test("subset runs default to no degraded retries; the env overrides both") {
    assert(Bench.degradedRetries(None, subset = false) == 5)
    assert(Bench.degradedRetries(None, subset = true) == 0)
    assert(Bench.degradedRetries(Some("2"), subset = false) == 2)
    assert(Bench.degradedRetries(Some("3"), subset = true) == 3)
  }

  test("any healthy configured pass means no retries at all") {
    assert(!Bench.needAnotherPass(3, 3, Seq(true, false, true), 0, 3))
  }

  test("wall = min over non-degraded passes when any exists") {
    // the degraded pass has the smallest wall (a starved-start pass
    // can still run fast if contention lifts mid-pass) — it must NOT
    // win the min
    assert(Bench.pickWall(Seq(10.0, 20.0, 30.0), Seq(true, false, false))
      == ((20.0, false)))
    assert(Bench.pickWall(Seq(12.5, 11.0), Seq(false, false)) == ((11.0, false)))
  }

  test("all passes degraded -> min of everything, flagged degraded") {
    assert(Bench.pickWall(Seq(40.0, 35.0, 50.0), Seq(true, true, true))
      == ((35.0, true)))
  }

  // ---- seq-phase per-query selection (round 11, VERDICT r10 #4) ----

  test("per-query mins come from clean seq passes only") {
    val starved = Map("a" -> 1.0, "b" -> 9.0) // fast-but-starved pass
    val clean1 = Map("a" -> 2.0, "b" -> 12.0)
    val clean2 = Map("a" -> 3.0, "b" -> 10.0)
    val (m, deg) = Bench.pickPerQuery(Seq(starved, clean1, clean2),
      Seq(true, false, false))
    assert(!deg)
    // the starved pass's 1.0 for a must NOT win; mins are per-query
    // across the clean passes
    assert(m == Map("a" -> 2.0, "b" -> 10.0))
  }

  test("fully-starved seq phase still reports, flagged") {
    val (m, deg) = Bench.pickPerQuery(
      Seq(Map("a" -> 5.0), Map("a" -> 4.0)), Seq(true, true))
    assert(deg && m == Map("a" -> 4.0))
  }

  test("a failure in ANY pass poisons the query, window or not") {
    val (m, deg) = Bench.pickPerQuery(
      Seq(Map("a" -> -1.0, "b" -> 2.0), Map("a" -> 5.0, "b" -> 3.0)),
      Seq(true, false))
    assert(!deg)
    assert(m("a") == -1.0 && m("b") == 3.0)
  }

  // ---- mid-pass starvation detectors (round 12, VERDICT r11 #1) ----

  test("outlierFlags: the r11 event shape is caught, JIT cold passes are not") {
    // pass 1 = warm mins; pass 2 carries the BENCH_r11 starvation
    // signature (trivial union at 26x, heavy dedup at 50x)
    val clean = Map("q_union" -> 0.8, "q_sem" -> 3.4, "q_small" -> 0.1)
    val starved = Map("q_union" -> 21.2, "q_sem" -> 168.5, "q_small" -> 0.1)
    assert(Bench.outlierFlags(Seq(clean, starved), 6.0, 5.0)
      == Seq(false, true))
    // a cold first pass (2-3x JIT on everything, sub-5s absolute
    // deltas) must NOT flag — that's normal warmup, not starvation
    val cold = Map("q_union" -> 2.2, "q_sem" -> 8.0, "q_small" -> 0.45)
    assert(Bench.outlierFlags(Seq(cold, clean), 6.0, 5.0)
      == Seq(false, false))
  }

  test("outlierFlags: the pass holding the min never flags itself; -1 ignored") {
    val a = Map("q" -> 3.0, "r" -> -1.0)
    val b = Map("q" -> 40.0, "r" -> 2.0)
    assert(Bench.outlierFlags(Seq(a, b), 6.0, 5.0) == Seq(false, true))
    // a single pass can never be an outlier against itself
    assert(Bench.outlierFlags(Seq(b), 6.0, 5.0) == Seq(false))
  }

  test("controlHit: two 6x control excursions fire, one alone does not") {
    val refs = Map("c1" -> 0.8, "c2" -> 3.4, "c3" -> 0.3)
    // one control regressed (could be a genuine code change): no hit
    assert(!Bench.controlHit(Map("c1" -> 21.0, "c2" -> 3.5, "c3" -> 0.3),
      refs, 6.0, 3.0, 2))
    // two controls moved in lockstep: environment event
    assert(Bench.controlHit(Map("c1" -> 21.0, "c2" -> 168.0, "c3" -> 0.3),
      refs, 6.0, 3.0, 2))
    // big ratio but tiny absolute delta (0.3 -> 2.0) never counts
    assert(!Bench.controlHit(Map("c1" -> 0.8, "c2" -> 168.0, "c3" -> 2.0),
      refs, 6.0, 3.0, 2))
    // missing / failed control readings never count
    assert(!Bench.controlHit(Map("c2" -> 168.0, "c1" -> -1.0),
      refs, 6.0, 3.0, 2))
  }

  test("every pinned control ref names a real query") {
    Bench.controlRefs.keys.foreach(n =>
      assert(SparkEntry.queries.contains(n), s"control $n not in the surface"))
  }

  // ---- headline emission (round 14, VERDICT r13 #1) ----
  // BENCH_r12 and r13 were parsed:null: the r12 diagnostics payload
  // (ctl table, seq_cals, ~900-char note) shared the headline's line
  // and pushed the leading "value" field out of the driver's ~2000-char
  // tail capture — the exact r01-r03 truncation bug reintroduced. The
  // headline is now a pure function; these pin its worst-case size and
  // that it survives the simulated capture whole.

  private def worstCaseHeadline: String = {
    // worst case on the REAL surface: the longest query names are the
    // failed set and the slowest set, max pass/retry counts, degraded
    val byLen = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n))
    Bench.headlineJson(16, 98765.432, "/root/testdata/sf0.1", 87654.321,
      SparkEntry.queries.size, byLen.take(17), "32", 5,
      degraded = true, byLen.map(n => n -> 12345.678))
  }

  test("headline stays under 800 chars at worst case") {
    val line = worstCaseHeadline
    assert(line.length <= 800, s"headline is ${line.length} chars: $line")
    assert(line.startsWith("{\"metric\":\"wall_16streams_warm\",\"value\":"))
    // bounded by construction even when more fail / more are slow
    assert(!line.contains(SparkEntry.queries.keys.toSeq
      .sortBy(n => (-n.length, n)).apply(30)) || line.length <= 800)
  }

  test("headline survives a simulated 2000-char tail capture and parses") {
    val line = worstCaseHeadline
    // the process output the driver sees: per-query detail line, a
    // diagnostics line grown arbitrarily large (the r12 failure mode),
    // the headline LAST, then sbt's trailer
    val out = "{\"bench_per_query\":{" + "\"q\":1.0," * 400 + "\"z\":1.0}}\n" +
      "{\"bench_diag\":{\"note\":\"" + "x" * 3000 + "\"}}\n" +
      line + "\n" +
      "[success] Total time: 1195 s (19:55), completed Aug 15, 2026"
    val tail = out.takeRight(2000)
    val captured = tail.linesIterator.find(_.startsWith("{\"metric\":"))
    assert(captured.contains(line), "headline not whole in the tail window")
    // and the driver can parse the value out of it as real JSON
    import org.json4s._
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    assert((parsed \ "value") == JDouble(98765.432))
    assert((parsed \ "n_failed") == JInt(17))
    assert((parsed \ "degraded") == JBool(true))
    val JArray(failed) = (parsed \ "failed"): @unchecked
    assert(failed.size == 10) // capped; n_failed carries the true count
    val JObject(qs) = (parsed \ "queries"): @unchecked
    assert(qs.size == 6)
  }
}
