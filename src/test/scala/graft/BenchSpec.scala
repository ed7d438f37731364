package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the cross-round regression guard added in r10 (VERDICT r9 item 1):
  * the r9 artifact recorded 5.2 s for a query that re-runs at 0.9 s with
  * `suspect: []`, because min-of-3 cannot defend against a host-paging
  * episode spanning all three reps. The guard compares each query's min
  * against the prior round's artifact and (a) grants bounded extra
  * attempts, (b) flags `suspect`, when the min exceeds 2x prior.
  */
class BenchSpec extends AnyFunSuite {

  test("parsePriorTimes extracts the per-query map from an artifact line") {
    val json =
      """{"metric":"total","value":12.3,"unit":"sec","paging_probe":[1.0,1.1],""" +
      """"suspect":[],"queries":{"q1_agg":0.46,"dedup_clusters":4.78,"tiny":9.0E-2},"sf":"/x"}"""
    val m = Bench.parsePriorTimes(json)
    assert(m === Map("q1_agg" -> 0.46, "dedup_clusters" -> 4.78, "tiny" -> 0.09))
  }

  test("parsePriorTimes is tolerant of garbage / missing key") {
    assert(Bench.parsePriorTimes("") === Map.empty)
    assert(Bench.parsePriorTimes("{\"metric\":\"total\"}") === Map.empty)
    assert(Bench.parsePriorTimes("not json at all") === Map.empty)
    assert(Bench.parsePriorTimes("{\"queries\":{") === Map.empty)
  }

  test("parsePriorTimes reads the committed prior-round artifact") {
    // The real file this guard arms from: must stay parseable or the
    // guard silently disarms.
    val p = java.nio.file.Paths.get("BENCH_LOCAL.json")
    assume(java.nio.file.Files.exists(p))
    val m = Bench.parsePriorTimes(java.nio.file.Files.readString(p))
    assert(m.size > 100, s"expected the full query ledger, got ${m.size}")
    assert(m.values.forall(t => t > 0 && t < 600))
  }

  test("parsePriorTimes ignores the r14 artifact fields it doesn't read") {
    // r14 schema adds total_excl_suspect / n_excl_suspect / capped —
    // the guard must keep extracting `queries` from the new shape.
    val json =
      """{"metric":"total","value":12.3,"unit":"sec","total_excl_suspect":11.1,""" +
      """"n_excl_suspect":2,"paging_probe":[1.0,1.1],"suspect":["slow"],""" +
      """"capped":["slow"],"cold":{"served":3.5},"queries":{"q1":0.46,"slow":60.0},"sf":"/x"}"""
    assert(Bench.parsePriorTimes(json) === Map("q1" -> 0.46, "slow" -> 60.0))
    assert(Bench.parsePriorTimes(json, "cold") === Map("served" -> 3.5))
  }

  test("stdout handoff: the total line is the last line, after every query chunk") {
    val results = (1 to 200).map(i => f"query_$i%03d" -> Bench.QRes(0.5, suspect = false, capped = false))
    val total = """{"metric":"total","value":100.0,"unit":"sec"}"""
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Bench.printHandoff(total, results))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.last === total)
    val chunks = lines.init
    assert(chunks.size > 1 && chunks.forall(_.startsWith("""{"metric":"queries",""")))
    assert(chunks.map(Bench.parsePriorTimes(_)).reduce(_ ++ _) ===
      results.map { case (k, r) => k -> r.min }.toMap)
  }

  test("memoColdQueries: every prewarm name is a registered query") {
    // The warmup pre-derives Memo-backed serving relations by running
    // these queries; a renamed/removed query would silently turn the
    // prewarm into a no-op and put the cold build back inside the
    // timed window (the r13 failure shape).
    val registered = SparkEntry.queries.keySet
    val missing = Bench.memoColdQueries.filterNot(registered.contains)
    assert(missing.isEmpty, s"prewarm names not in SparkEntry.queries: $missing")
    assert(Bench.memoColdQueries.distinct.size === Bench.memoColdQueries.size)
  }

  test("suspectCeil: absolute 10 s rule when no prior exists") {
    assert(Bench.suspectCeil(None) === 10.0)
  }

  test("suspectCeil: 2x prior, floored at 1 s, capped by the absolute rule") {
    // r9 failure case: prior 0.46 s, artifact 5.2 s -> ceil 1.0, flagged.
    assert(Bench.suspectCeil(Some(0.46)) === 1.0)
    assert(5.2 > Bench.suspectCeil(Some(0.46)))
    // mid-size query: 2x prior governs.
    assert(Bench.suspectCeil(Some(2.0)) === 4.0)
    // slow-but-legit query (dedup_clusters ~4.8 s): relative ceil 9.6 s
    // still under the absolute rule; a healthy re-run is not flagged.
    assert(Bench.suspectCeil(Some(4.8)) === 9.6)
    // very slow prior never RAISES the ceiling past 10 s.
    assert(Bench.suspectCeil(Some(8.0)) === 10.0)
  }

  test("isAmbient: >2.5x prior AND >0.5s absolute excess; no prior -> never") {
    // r18 absolute-excess floor (r17 verdict #4): a sub-second reading
    // whose whole "regression" is the fixed probe band carries no
    // ratio signal — 0.28->0.85 is 3.0x but only 0.57 s excess (flags,
    // barely); 0.27->0.69 is 2.6x with 0.42 s excess (probe band, no
    // longer flags)
    assert(Bench.isAmbient(0.85, Some(0.28)))   // excess 0.57 s > 0.5
    assert(!Bench.isAmbient(0.69, Some(0.27)))  // excess 0.42 s: probe band
    assert(!Bench.isAmbient(0.5, Some(0.28)))   // < 2.5x: ordinary jitter
    assert(!Bench.isAmbient(100.0, None))       // no prior: nothing to compare
    assert(Bench.isAmbient(30.0, Some(10.0)))   // large queries flag too
  }

  test("prewarmOrder: most-expensive-first by prior cold; unknown builds first") {
    val priorCold = Map("a" -> 5.1, "b" -> 131.6, "c" -> 8.9)
    // 'new' has no prior cold -> unknown cost, scheduled first
    assert(Bench.prewarmOrder(Seq("a", "b", "c", "new"), priorCold)
      === Seq("new", "b", "c", "a"))
    // no priors at all: original order preserved (stable sort)
    assert(Bench.prewarmOrder(Seq("a", "b", "c"), Map.empty) === Seq("a", "b", "c"))
  }

  test("attemptCap: 4x prior floored at 10s; full budget without a prior") {
    assert(Bench.attemptCap(None, 60.0) === 60.0)
    assert(Bench.attemptCap(Some(0.24), 60.0) === 10.0)   // floor
    assert(Bench.attemptCap(Some(5.0), 60.0) === 20.0)    // 4x prior
    assert(Bench.attemptCap(Some(100.0), 60.0) === 400.0) // loop min()s vs budget
  }

  test("prewarm builds cold serving tables one at a time (r15: a 3-worker " +
       "pool tripled the build phase's peak RSS and widened the driver " +
       "host's paging band — 23 suspects vs 6)") {
    assert(Bench.PrewarmConcurrency === 1)
  }
}
