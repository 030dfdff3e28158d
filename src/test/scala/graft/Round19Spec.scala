package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-19 pins: the regression-canary self-verify channel and the
  * canonical-baseline calib gate (r18 verdict task 1), the q204
  * reopen-threshold override (task 3), and the Sf10Probe headline
  * discipline (r18 advice — `_warm` diagnostic rows must not make the
  * headline total non-comparable across rounds).
  */
class Round19Spec extends AnyFunSuite {

  private def withRebases(json: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("r19-ov")
    java.nio.file.Files.writeString(
      dir.resolve("BASELINE_REBASES.json"), json)
    body(dir.toString)
  }

  test("Bench.reopenOverrides scrapes reopen_sec entries keyed to the " +
    "named artifact only") {
    withRebases(
      """[
        |  {"query": "q204_ann_bakeoff", "baseline": "bench_results.json",
        |   "reopen_sec": 6.4, "cause": "bimodality audit"},
        |  {"query": "qX", "baseline": "BENCH_sf1.json",
        |   "reopen_sec": 9.9, "cause": "other artifact"},
        |  {"query": "qY", "baseline": "bench_results.json",
        |   "budget_sec": 8.0, "cause": "a budget, not a reopen"}
        |]""".stripMargin) { dir =>
      assert(Bench.reopenOverrides(dir, "bench_results.json") ==
        Map("q204_ann_bakeoff" -> 6.4))
      assert(Bench.reopenOverrides(dir, "BENCH_sf1.json") ==
        Map("qX" -> 9.9))
      assert(Bench.budgetOverrides(dir, "bench_results.json") ==
        Map("qY" -> 8.0))
    }
  }

  test("Bench.resultsPath: a relative results name lands under the " +
    "working directory, an absolute one is kept as it is") {
    val cwd = java.nio.file.Files.createTempDirectory("r19-cwd")
    val elsewhere = java.nio.file.Files.createTempDirectory("r19-out")
      .resolve("BENCH_x.json")
    assert(Bench.resultsPath(cwd.toString, "bench_results.json") ==
      cwd.resolve("bench_results.json"))
    assert(Bench.resultsPath(cwd.toString, "sub/BENCH_sf1.json") ==
      cwd.resolve("sub").resolve("BENCH_sf1.json"))
    assert(Bench.resultsPath(cwd.toString, elsewhere.toString) == elsewhere)
  }

  test("Probe.writeArtifact: Bench's and Sf10Probe's results file " +
    "lands where an absolute SPARK_GRAFT_RESULTS_FILE names, not under " +
    "the working directory") {
    val out = java.nio.file.Files.createTempDirectory("r19-abs")
      .resolve("BENCH_sf10_subset.json")
    val written = Probe.writeArtifact(out.toString, "{}")
    assert(written == out)
    assert(java.nio.file.Files.readString(out) == "{}\n")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      sys.props("user.dir"), out.toString)))
  }

  test("regressionCandidates: a reopen_sec override replaces the ratio " +
    "rule — under-threshold bimodal values never flag, over-threshold " +
    "trips even when the generic rule wouldn't") {
    val reopen = Map("q204" -> 6.4)
    // committed minimum minted in the warm regime (the r18 situation:
    // predecessor warmth can land the suite number anywhere in ~2.8-3.2)
    val prev = Map("q204" -> 2.8, "qA" -> 1.0)
    // 5.9 s = the honest cold-regime cost: the generic rule would flag
    // it (2.11x, +3.1 s) — the audited override must suppress it
    assert(Bench.regressionCandidates(prev,
      Seq("q204" -> 5.9, "qA" -> 1.0), reopen).isEmpty)
    // past the audited reopen threshold: trips via the override
    val tripped = Bench.regressionCandidates(prev,
      Seq("q204" -> 6.5, "qA" -> 1.0), reopen)
    assert(tripped.map(_._1) == Seq("q204"))
    // a query with an override but NO committed baseline still reports
    // a ratio (vs the threshold itself)
    assert(Bench.regressionCandidates(Map.empty,
      Seq("q204" -> 12.8), reopen).head._2 == 2.0)
    // non-overridden queries keep the generic 2x + 0.3 s rule
    assert(Bench.regressionCandidates(prev,
      Seq("qA" -> 2.5), reopen).map(_._1) == Seq("qA"))
    assert(Bench.regressionCandidates(prev,
      Seq("qA" -> 1.9), reopen).isEmpty)
  }

  test("Bench.calibSteadySec: exact-artifact entry beats the box-wide " +
    "'*' entry; absent file or no entry = None (gate can't judge)") {
    withRebases(
      """[
        |  {"scope": "calib_steady", "baseline": "*",
        |   "steady_sec": 0.063, "cause": "box-wide quiet state"},
        |  {"scope": "calib_steady", "baseline": "BENCH_sf1.json",
        |   "steady_sec": 0.080, "cause": "tier-specific override"},
        |  {"scope": "baseline", "baseline": "bench_results.json",
        |   "old_sec": 310.0, "new_sec": 329.1, "cause": "not a steady"}
        |]""".stripMargin) { dir =>
      assert(Bench.calibSteadySec(dir, "bench_results.json")
        .contains(0.063))
      assert(Bench.calibSteadySec(dir, "BENCH_sf1.json").contains(0.080))
    }
    withRebases("[]") { dir =>
      assert(Bench.calibSteadySec(dir, "bench_results.json").isEmpty)
    }
  }

  test("canonical-baseline gate arithmetic: calib_end past " +
    "CalibGateMaxRatio x steady marks the run non-canonical") {
    val steady = 0.063
    // the r18 official artifact's calib_end (0.133 = 2.11x steady)
    // must NOT have been minted as a canary baseline
    assert(0.133 > Probe.CalibGateMaxRatio * steady)
    assert(!Probe.calibGate(Some(steady), 0.133).canonical)
    // the r17 committed run's steady-state end passes
    assert(0.063 <= Probe.CalibGateMaxRatio * steady)
    assert(Probe.calibGate(Some(steady), 0.063).canonical)
    // no recorded steady state: the gate cannot judge, the run counts
    assert(Probe.calibGate(None, 9.9) == Probe.CalibGate(None, None, true))
  }

  test("ShuffleWidth double-census precision margin (r18 advice item, " +
    "recorded): exactness ends ~1.6e6x past the 4096-cap saturation " +
    "point, so the double census cannot mis-size any reachable tier") {
    // width saturates at the cap once pairs*bytesPerPair >= 4096 targets
    val capPairs = 4096.0 * (32L << 20).toDouble / 24.0
    assert(capPairs < 6e9)
    assert(math.pow(2, 53) / capPairs > 1.5e6)
  }

  test("Sf10Probe: q164 joins WarmSplit and the headline value " +
    "excludes _warm diagnostic rows") {
    assert(Sf10Probe.WarmSplit("q164_video_frame_hashes"))
    val rows = Seq("q53_lsh_neighbors" -> 10.0,
      "q137_hnsw_ann" -> 20.0, "q137_hnsw_ann_warm" -> 2.0,
      "q164_video_frame_hashes" -> 60.0,
      "q164_video_frame_hashes_warm" -> 58.0)
    assert(Sf10Probe.headlineValue(rows) == 90.0)
  }
}
