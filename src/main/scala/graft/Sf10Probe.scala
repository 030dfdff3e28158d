package graft

/** 100×-direction evidence: single-pass cold timings of the
  * scale-sensitive query tier on an sf10 tree (100× the sf0.1 driver
  * data, built by [[ScaleUp]] with n=100), written as a committed JSON
  * artifact (`BENCH_sf10_subset.json`).
  *
  * It shares [[Bench]]'s measurement core ([[Probe]]: session, barrier,
  * timed run, calibration) but none of its suite policy (passes,
  * standing-memo release, canary): the probe's question
  * is not "did this round regress" but "does each scale-critical
  * operator's cost stay ~linear from 10× to 100×" — one cold pass per
  * query (memo builds included, noted per query in PLANS.md) against a
  * stated per-query wall-clock budget. Timings at this scale are
  * dominated by real work, not scheduler floor, so a single pass is
  * decision-grade.
  *
  * Usage: runMain graft.Sf10Probe [query ...]  (default: the audited
  * scale-sensitive tier). Env: SPARK_GRAFT_SF_DIR (default
  * target/sf10), SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE (default 4×cpus),
  * SF10_BUDGET_SEC (default 300, per query), SPARK_GRAFT_RESULTS_FILE
  * (default BENCH_sf10_subset.json; a relative name lands under the
  * working directory, an absolute one where it names).
  */
object Sf10Probe {

  /** The audited scale-sensitive tier: every query PLANS.md's
    * superlinear-tail audits name, plus the streamed certifications
    * (bounded-slice contract) and the pair-output media near-dups
    * (fixture-quadratic history). */
  val DefaultTier: Seq[String] = Seq(
    "q103_range_join",        // day-grain prefix sums (r14 rewrite)
    "q104_fuzzy_join",        // q-gram blocker (Ed-Join prefix filter)
    "q78_semantic_dedup",     // SemDeDup cells via scaledSeedCutoff
    "q185_allpairs_join",     // prefix-filtered AllPairs (Caesar fix)
    "q210_margin_mining",     // hard-negative mining
    // memo BUILDERS run before their consumers so the standing
    // fingerprint/frame-hash builds are billed to the query that owns
    // them (the suite order Bench uses), not to the join that probes
    // them — the r15 first probe billed q163 97× when ~90% was the
    // audio memo build it had to do cold
    "q162_audio_fingerprint", // audio memo build + fingerprint table
    "q163_audio_neardup",     // corpus-scaled dup-class fixture
    "q164_video_frame_hashes",// video memo build + per-frame decode
    "q165_video_neardup",     // corpus-scaled dup-class fixture
    "q138_hnsw_incremental",  // insert volume × beam growth (self-built)
    "q168_kn3_score",         // per-token KN kernel (worst sf1 ratio)
    "q246_streamed_neardups", // certSliceCutoff-bounded machinery
    "q247_streamed_curation", // certSliceCutoff-bounded machinery
    "q282_spike_window_pairs",// pair-materializing interval join (74k
                              // pairs at sf1 — the output class that
                              // goes quadratic when fixtures saturate)
    "q283_audio_neardup_cert",// audio near-dup 100x hash anchor (the
                              // sliced oracle stays DuckDB-feasible)
    // the r16 FULL-suite sweep's heavy tail, adopted per its verdict:
    "q53_lsh_neighbors",      // corpus-scaled planes (r17 fix; was 296 s)
    "q137_hnsw_ann",          // corpus-scaled shards + warm split (r17)
    "q37_jaccard_pairs",      // data-scaled width, unsorted output (r17)
    "q265_basket_support",    // data-scaled width (r17; was 7.96 GB spill)
    "q73_curated_corpus",     // decontamination-probe funnel (70.7× cold)
    "q68_decontamination")    // Bloom-thinned probe (47.1× cold)

  /** Queries whose first sf10 run is dominated by a one-time standing
    * build (memoTable index construction): the probe runs them a second
    * time and records `<name>_warm` alongside the cold number, so
    * build-vs-probe cost separates mechanically (the r16 q137 ambiguity
    * — 181.6 s cold read as "218× superlinear" when it was almost
    * entirely the 1-shard index build; q162's 245 s cold is ~90% the
    * audio fingerprint memo that q163 then consumes in 15 s; q164's
    * 271.5 s in-suite vs 57.7–93.3 s probe-tier gap, r18, was the video
    * frame-hash memo billed to the query — the same disease, same cure).
    * The per-query budget applies to the WARM number for these; the
    * cold number carries the build and is gated against the separate
    * [[BuildBudgetSec]] so an unbounded build regression still fails the
    * probe instead of riding the warm exemption. */
  val WarmSplit: Set[String] =
    Set("q137_hnsw_ann", "q162_audio_fingerprint",
      "q164_video_frame_hashes")

  /** Budget for the cold rows of [[WarmSplit]] queries, which carry a
    * one-time standing build (amortized over every probe in production):
    * generous, but GATED — exempting them entirely would let a build
    * regression (16 s → 2000 s) pass the probe silently. */
  val BuildBudgetSec = 600.0

  /** The artifact's headline `value`: cold rows only. `_warm` re-runs
    * are diagnostic splits, not additional tier members — summing them
    * into the headline made the total non-comparable across rounds
    * every time a query joined WarmSplit (r18 advice finding; the r18
    * artifact's value includes q137/q162 warm rows, so expect a small
    * headline DROP at the r19 discontinuity on top of the q164 cold-row
    * shrink). */
  def headlineValue(results: Seq[(String, Double)]): Double =
    results.filterNot(_._1.endsWith("_warm")).map(_._2).sum

  /** Budget for a result row: a per-label BASELINE_REBASES override wins
    * (overrides key on the emitted label, so a `<name>_warm` row and its
    * cold `<name>` row rebase independently); otherwise WarmSplit cold
    * labels are gated at the build budget, everything else at the
    * per-query budget. */
  def budgetFor(label: String, overrides: Map[String, Double],
                budget: Double, buildBudget: Double): Double =
    overrides.getOrElse(label,
      if (WarmSplit(label)) buildBudget else budget)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val budget = sys.env.getOrElse("SF10_BUDGET_SEC", "300").toDouble
    val outName = sys.env
      .getOrElse("SPARK_GRAFT_RESULTS_FILE", "BENCH_sf10_subset.json")
    val names = if (args.nonEmpty) args.toSeq else DefaultTier
    // shuffle width scales with the data (see Probe.session): 4×cpus
    val spark = Probe.session(cpus, cpus * 4)
    // Contention telemetry (r18): the r17 probe's two over-budget rows
    // (q185 651 s, q210 523 s) were suspected in-suite inflation — the
    // isolated re-measure REPRODUCED them (624/291 s) on a box whose
    // fixed-load calibration read 0.52 s against the 0.063–0.102 s
    // committed steady state. Without its own calib fields a probe
    // artifact cannot distinguish "operator regressed 2×" from "box is
    // 2× contended today"; with them the comparison is machine-readable
    // (the Bench discipline since r8, adopted here).
    val calibStart = Probe.fixedLoadCalib(spark, cpus)
    // Each window opens behind a 1 s barrier (2×(gc + 500 ms), noise
    // against 300 s budgets). A WarmSplit query runs twice: the second
    // run separates the one-time build (billed to the cold row) from
    // the probe.
    val runs = names.flatMap { name =>
      (if (WarmSplit(name)) Seq(name, s"${name}_warm") else Seq(name))
        .map { label =>
          val r = Probe.measure(spark, sfDir, name, barrierMs = 1000)
          r.failure.foreach(e =>
            System.err.println(s"[sf10] $label FAILED: ${e.getMessage}"))
          System.err.println(s"[sf10] $label ${Probe.fmt(r.sec)}s")
          (label, r.sec, r.failed)
        }
    }
    val calibEnd = Probe.fixedLoadCalib(spark, cpus)
    spark.stop()
    val results = runs.map(r => r._1 -> r._2)
    val failed = runs.filter(_._3).map(_._1)
    // Per-query budget overrides ride BASELINE_REBASES.json (entries
    // with "baseline":"BENCH_sf10_subset.json" and a "budget_sec" —
    // same provenance discipline as timing rebases: query, evidence,
    // commit, cause). The ONE standing override is q185: its audited
    // honest sf10 cost is 293–332 s (r16 audit, PLANS.md) against the
    // generic 300 s, and the r17 width experiment measurably REGRESSED
    // it — the uniform budget is re-based for that query rather than
    // hand-waved over every sweep. Keyed to the canonical artifact name
    // (not outName) so diagnostic SPARK_GRAFT_RESULTS_FILE runs judge
    // against the same budgets, and the same calib gate, the committed
    // artifact does.
    val cwd = sys.props("user.dir")
    val budgetOverrides = Bench.budgetOverrides(cwd, "BENCH_sf10_subset.json")
    val over = results
      .filter { case (k, v) =>
        v > budgetFor(k, budgetOverrides, budget, BuildBudgetSec) }
      .filterNot(r => failed.contains(r._1))
    // Calib gate (r19, shared with Bench): a probe artifact whose calib
    // ends past the gate self-marks non-canonical (the r17 probe's
    // q185/q210 "suspect" rows were exactly this: honest timings on a
    // 5-8× contended box).
    val gate = Probe.calibGate(
      Bench.calibSteadySec(cwd, "BENCH_sf10_subset.json"), calibEnd)
    val line = Probe.obj("metric" -> "sf10_subset",
      "value" -> headlineValue(results), "unit" -> "sec", "sf" -> sfDir,
      "n_queries" -> results.size, "headline_excludes_warm" -> true,
      "queries" -> Probe.obj(results.map { case (k, v) =>
        k -> (if (failed.contains(k)) -1 else v) }: _*),
      "budget_sec" -> budget, "build_budget_sec" -> BuildBudgetSec,
      "calib_start" -> calibStart, "calib_end" -> calibEnd,
      "calib_steady_sec" -> gate.steadySec,
      "calib_end_vs_steady" -> gate.endVsSteady,
      "canonical" -> gate.canonical, "n_over_budget" -> over.size,
      "over_budget" -> Probe.obj(over: _*), "failed" -> Probe.arr(failed))
    Probe.writeArtifact(outName, line.text)
    // Per-query map as its own stdout line first (same discipline as
    // Bench.queriesLine): the main artifact line below stays last so a
    // tail-window parser still finds it.
    println(Bench.queriesLine(results.map { case (k, v) =>
      k -> (if (failed.contains(k)) -1.0 else v) }))
    println(line)
  }
}
