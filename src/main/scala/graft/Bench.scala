package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Every run of a query, warm-up included, goes through [[Probe.measure]];
  * this object holds the suite's policy: order, passes, minima, and the
  * canary, spread and budget flags.
  *
  * An untimed warmup absorbs session/codegen/parquet-footer startup so
  * measurements reflect steady-state query cost.
  */
object Bench {
  /** A flagged query after its in-run re-probe: the flag as it stands (a
    * spread interval or a regression ratio), the re-probe's fastest and
    * slowest seconds, the GC seconds of its slowest pass, and whether
    * the flag reproduced. */
  private final case class Verdict[F](name: String, flag: F, reLo: Double,
      reHi: Double, gcOfSlowest: Double, reproduced: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Default shuffle width stays = cpus for the sf0.1/sf1 rounds so
    // numbers remain comparable (SPARK_GRAFT_SHUFFLE: Probe.session).
    val spark = Probe.session(cpus, cpus)
    val cwd = sys.props("user.dir")

    // Data-movement accounting: cumulative shuffle read/write and spill
    // across all tasks, read around each pass-1 timing window so the
    // artifact carries bytes-moved per query alongside seconds.
    // Wall-clock ratios only expose superlinear data movement when a
    // human watches a slow run (the r15 q185 spill was found that way);
    // a shuffle-bytes column makes an sf1/sf0.1 movement ratio
    // mechanically comparable for every query at every scale.
    val counters = TaskCounters.register(spark)
    val shuffleByQuery = scala.collection.mutable.Map.empty[String, TaskCounts]

    // Failures are TRACKED, not just swallowed: a query that regresses
    // into a crash times near-zero and would otherwise read as a
    // speedup — the exact inversion the regression canary exists to
    // prevent. failedQueries feeds the canary line and poisons the
    // per-query value to -1 in the artifact.
    val failedQueries = scala.collection.mutable.Set.empty[String]
    def run(name: String, barrierMs: Long = 0,
            counted: Boolean = false): Probe.Run = {
      val r = Probe.measure(spark, sfDir, name, barrierMs,
        Option.when(counted)(counters))
      r.failure.foreach { e =>
        if (failedQueries.add(name))
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      r
    }

    // Fixed-load calibration probe at the start AND end of the run:
    // calib_start vs calib_end shows whether contention was sustained
    // across the run.
    val calibStart = Probe.fixedLoadCalib(spark, cpus)

    // Warmup (untimed): run every query once so the timed passes measure
    // steady-state execution (codegen class cache, parquet footers, JIT),
    // not first-run compilation. The class cache holds the whole fleet's
    // generated classes (3,401 in a sf0.1 warm-up pass) only because
    // GraftSession sizes it to 8192 entries (CodegenCacheEntries); at
    // Spark's default of 100 a second pass at sf0.01 recompiled 6,855.
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Isolation: iterative queries (per-round localCheckpoint loops) run
    // LAST within each pass. Even with eager in-loop unpersist, an
    // iterative query's final checkpoint + its burst of small jobs leave
    // GC/cleaner residue; ordering them last means that residue can only
    // bill the pass boundary, never the next query's timing window.
    // Within the tail the order is FIXED with q61 first: round 9 ran the
    // tail in sorted order (q101, q157, q159, q61), so q61 inherited the
    // residue of three predecessor CC runs and regressed 3.9× with zero
    // code change. Each tail query also gets a longer barrier before its
    // timing window so no tail position is billed for its predecessors'
    // garbage.
    val iterativeOrder = Seq("q61_dedup_clusters",
      "q101_incremental_clusters", "q157_entity_resolution",
      "q159_incremental_entities", "q207_kcore", "q205_mmr_diversify")
      .filter(names.contains)
    val iterative = iterativeOrder.toSet
    val execOrder = names.filterNot(iterative) ++ iterativeOrder
    // SPARK_GRAFT_WARMUP=0 drops the untimed warmup pass — for the
    // sf10 full-suite run, where a second full pass costs hours and the
    // question is cold scale behavior, not steady-state precision (the
    // Sf10Probe precedent: one cold pass, memo builders ordered before
    // their consumers — which the sorted suite order already does).
    val doWarmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    if (doWarmup) execOrder.foreach(run(_))
    // Standing-cache pressure report: bytes held by the block-manager
    // storage pool after warmup (when every standing memo frame is built)
    // — the pool the iterative queries' own persists must share.
    val (standMem, standDisk) = graft.sources.Standing.storageBytes(spark)

    // EVERY timing window opens behind a Probe.barrier (not just the
    // iterative tail): r9 (q61 3.9×) and r10 (q182–q186, q185 3.76×) each
    // shipped a multi-× in-suite "regression" with zero code change on
    // the query's path that vanished in isolation (r10: q185 13.93 s
    // in-suite vs 2.95 s under BenchOne, q186 1.47 vs 0.55). Targeted
    // barrier lists lose that game every round; ~110 ms × every window
    // (~1 min per bench run, outside all timing windows) retires the
    // class. The iterative tail keeps its longer drain.
    // SPARK_GRAFT_GC_SLEEP_MS scales the drain for scale-tier runs
    // where per-query residue is proportionally bigger.
    val gcSleepMs = sys.env.get("SPARK_GRAFT_GC_SLEEP_MS").map(_.trim)
      .filter(_.nonEmpty).map(_.toLong)
    def window(ms: Long): Long = gcSleepMs.getOrElse(ms)
    def windowOf(name: String): Long = window(if (iterative(name)) 200 else 100)

    // Two timed passes, report the min per query: single-pass numbers on a
    // shared 32-thread box carry ±30% GC/scheduling noise that drowns real
    // regressions; min-of-2 is the steady-state cost.
    def pass(order: Seq[String], counted: Boolean): Map[String, Double] =
      order.map { n =>
        val r = run(n, windowOf(n), counted)
        r.counts.foreach(shuffleByQuery(n) = _)
        n -> r.sec
      }.toMap
    // SPARK_GRAFT_PASSES=1 drops the repeat passes — for the sf1-scale
    // evidence run, where one pass is ~10× the sf0.1 suite and the
    // noise floor the extra passes buy is irrelevant next to the
    // ×10 signal being measured.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    // SPARK_GRAFT_RESULTS_FILE redirects BOTH the artifact and the
    // canary baseline — the sf1 scale gate (tools/sf1_gate.sh) runs this
    // same suite against BENCH_sf1.json so 10×-scale ratios diff against
    // the committed 10×-scale round, not the sf0.1 numbers.
    // Baseline = the COMMITTED artifact (`git show HEAD:...`), not
    // whatever is on disk: a local bench run that isn't reverted would
    // otherwise silently rebase the canary for the next run and mask a
    // real regression. On-disk is the fallback only (no git / fresh
    // artifact not yet committed).
    val resultsName = sys.env
      .getOrElse("SPARK_GRAFT_RESULTS_FILE", "bench_results.json")
    val resultsFile = resultsPath(cwd, resultsName)
    val pass1 = pass(execOrder, counted = true)
    val pass2 = if (passes >= 2) pass(execOrder, counted = false) else pass1
    // min-of-3 for sub-second queries: at n-of-2 several flat queries
    // moved ±25% run-to-run; a third pass over only the cheap ones
    // tightens their noise floor for ~a quarter of a pass of wall clock
    // (the expensive queries dominate pass time and keep min-of-2).
    val sub1 = execOrder.filter(n => math.min(pass1(n), pass2(n)) < 1.0)
    val pass3 = if (passes >= 2) pass(sub1, counted = false)
      else Map.empty[String, Double]
    val results = names.map { name =>
      val v = (Seq(pass1(name), pass2(name)) ++ pass3.get(name)).min
      // a crashed query's time-to-failure is not a timing — poison it
      name -> (if (failedQueries(name)) -1.0 else v)
    }
    // per-query spread alongside the min: without it, a cheap query's
    // round-over-round movement is unfalsifiable as noise-vs-regression
    // from the artifact alone (the r10 q186 ambiguity). All passes run
    // with standing caches warm (the lifecycle exercise happens AFTER
    // the timed passes), so the spread is pure run-to-run noise, never
    // a one-time rebuild.
    val spreads = names.map { name =>
      val obs = Seq(pass1(name), pass2(name)) ++ pass3.get(name)
      name -> ((obs.min, obs.max))
    }
    // Self-verifying flags (spread since r18, regression since r19): each
    // candidate is immediately re-probed (2 barriered passes, standing
    // memos still warm, same box state, before the standing-release
    // lifecycle) and `held` judges the flag again on the re-probe's
    // (fastest, slowest) seconds. JVM GC time of the slowest re-probe
    // pass names a confirmed stall's mechanism (gc-dominated vs
    // scheduler/IO). A pass that CRASHES is a reproduced defect, not a
    // fast retirement — the near-zero time-to-failure must never read as
    // "came back tight" (r18 advice finding); crashed names also land in
    // failed_in_reprobe so the artifact separates them from clean
    // timings.
    val failedInReprobe = scala.collection.mutable.Set.empty[String]
    def reprobe[F](name: String, flag: F)(
        held: (Double, Double) => Option[F]): Verdict[F] = {
      val obs = (1 to 2).map(_ => run(name, windowOf(name)))
      if (obs.exists(_.failed)) failedInReprobe += name
      val (reLo, reHi) = (obs.map(_.sec).min, obs.map(_.sec).max)
      val again = held(reLo, reHi)
      Verdict(name, again.getOrElse(flag), reLo, reHi,
        obs.maxBy(_.sec).gcSec, obs.exists(_.failed) || again.isDefined)
    }
    // Spread flags: every round the suite flagged 7-8 batch queries with
    // 3-20× pass spreads — with ZERO overlap between runs — and BenchOne
    // disproved each by hand as a transient suite-interaction stall. A
    // flag whose re-probe stays inside the spread bound (judged against
    // the run's own min, so a re-probe that is MERELY fast again retires
    // it) lands in `spread_retired` with its re-probe spread; only
    // re-probe-REPRODUCED stalls surface as `spread_outliers`.
    // Retire policy (documented backstop, r18 advice): a 2-pass re-probe
    // retires an intermittent stall with probability (1-p)^2 — a
    // 30%-rate stall escapes roughly half the time. Accepted: the ratio
    // canary and the absolute per-query budget remain the stated
    // backstops (a stall that matters keeps re-flagging until one
    // re-probe reproduces it, and a persistent one trips the budget).
    val spreadVerdicts = spreadOutliers(spreads)
      .filterNot { case (name, _) => failedQueries(name) }
      .map { case (name, (lo, hi)) =>
        reprobe(name, (lo, hi)) { (reLo, reHi) =>
          Option.when(spreadOutliers(
            Seq(name -> ((math.min(lo, reLo), reHi)))).nonEmpty)((lo, hi))
        }
      }
    // Regression-vs-baseline flags: the committed r18 artifact shipped 7
    // unadjudicated >2× flags that were a contention window (contiguous
    // pass-order block, calib 2.104) a human had to retire by hand. Only
    // a candidate whose re-probe STILL trips the candidate rule (on the
    // best observation across passes and re-probes) emits as a
    // regression; retired candidates ride `regressions_retired` with
    // their re-probe spread. Single-pass scale runs (SPARK_GRAFT_PASSES=1:
    // the sf1 gate, the sf10 sweep) skip the re-probe — they measure
    // cold cost once by design and are judged on fleet median + budget;
    // their candidates emit unprobed, and the artifact's
    // `regressions_reprobed` field says which regime produced it.
    val prevBlob: Option[String] =
      committedPrevBlob(cwd, resultsName)
        .orElse(
          if (java.nio.file.Files.exists(resultsFile))
            Some(java.nio.file.Files.readString(resultsFile))
          else None)
    val prevQueries: Map[String, Double] =
      prevBlob.map(parsePrevQueries).getOrElse(Map.empty)
    val reopenOv = reopenOverrides(cwd, resultsName)
    val regReprobed = passes >= 2
    val regVerdicts = regressionCandidates(prevQueries, results, reopenOv)
      .map { case (name, ratio) =>
        if (!regReprobed || failedQueries(name))
          Verdict(name, ratio, -1.0, -1.0, 0.0, reproduced = true)
        else reprobe(name, ratio) { (reLo, _) =>
          val best = math.min(results.toMap.getOrElse(name, reLo), reLo)
          regressionCandidates(prevQueries, Seq(name -> best), reopenOv)
            .headOption.map(_._2)
        }
      }
    // Standing-cache LIFECYCLE exercise — after the timed passes so no
    // pass absorbs a rebuild: release every standing frame, sample the
    // pool (must drop to ~0), then re-run a fixed trio of standing-
    // backed queries once and report the rebuild seconds — the bench
    // itself executes release → rebuild-on-next-access every round
    // (rebuilt ≡ first-build hash equality is pinned by Round11Spec).
    val released = graft.sources.Standing.releaseAll(spark)
    Probe.barrier(window(200))
    val (postRelMem, postRelDisk) =
      graft.sources.Standing.storageBytes(spark)
    val rebuildSec = Seq("q03_net_demand", "q205_mmr_diversify",
      "q219_cluster_size_histogram").filter(names.contains)
      .map(run(_).sec).sum
    // crashed queries (-1 poison) are excluded from the total and
    // surfaced via the canary's failed list instead
    val total = results.map(_._2).filter(_ >= 0).sum

    // Write-side throughput (one pass, reported under its own key so the
    // headline query total stays comparable across rounds): the three
    // standing sink shapes — day-partitioned fact write (repartitioned on
    // the partition column first, one file per day, no small-file spray),
    // bucketed fact write (shuffle-once-at-write join layout), and
    // small-file compaction of the partitioned output.
    val wdir = graft.sources.TmpDirs.register(java.nio.file.Files
      .createTempDirectory("graft-bench-writes").toString)
    val ordersW = graft.operators.Replay.orders(spark, sfDir)
      .filter(graft.operators.Replay.ordersWhen)
    import org.apache.spark.sql.functions.col
    val writes = Probe.obj(
      "w_partitioned_write" -> Probe.seconds(
        graft.sources.Sinks.writePartitionedParquet(
          ordersW.repartition(col("order_date")),
          s"$wdir/orders_by_day", Seq("order_date"))),
      "w_bucketed_write" -> Probe.seconds(
        graft.sources.Sinks.writeBucketed(ordersW, "graft_bench_orders_b",
          Seq("product_id"), 8, sortCols = Seq("product_id"),
          path = Some(s"$wdir/orders_bucketed"))),
      "w_compaction" -> Probe.seconds(
        graft.sources.Sinks.compact(spark, s"$wdir/orders_by_day",
          partitionCols = Seq("order_date"))))
    // files/bytes alongside seconds: write throughput without layout
    // numbers is half a measurement (a fast write that sprays 10k small
    // files is not fast at 100 TB)
    def layout(path: String): (Long, Long) = {
      val root = new java.io.File(path)
      def walk(f: java.io.File): (Long, Long) =
        // listFiles() returns null on I/O error or a dir vanishing mid-walk
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
            .map(walk).fold((0L, 0L)) {
          case ((a, b), (c, d)) => (a + c, b + d)
        }
        else if (f.getName.endsWith(".parquet")) (1L, f.length())
        else (0L, 0L)
      walk(root)
    }
    val (nFiles, nBytes) = layout(s"$wdir/orders_by_day")
    val calibEnd = Probe.fixedLoadCalib(spark, cpus)

    // Round-over-round regression canary: only REPRODUCED candidates
    // emit; retired ones carry their re-probe spread as the
    // machine-attributed disproof.
    val regressions = regVerdicts.filter(_.reproduced)
      .map(v => v.name -> v.flag)
    val regressionsRetired = regVerdicts.filterNot(_.reproduced)
      .map(v => v.name -> ((v.reLo, v.reHi)))
    val regressionGc = regVerdicts.filter(v => v.reproduced && regReprobed)
      .map(v => v.name -> v.gcOfSlowest)
    // Intra-run spread outliers: the r11 q159 case ([4.0, 43.0]s across
    // passes) shipped silently because the canary only compared minima
    // round-over-round — a within-run 10× pass is a signal the artifact
    // must flag, not bury in the raw spread map.
    val spreadOut = spreadVerdicts.filter(_.reproduced)
      .map(v => v.name -> v.flag)
    val spreadRetired = spreadVerdicts.filterNot(_.reproduced)
      .map(v => v.name -> ((v.reLo, v.reHi)))
    // GC share of each confirmed stall's slowest re-probe pass: a
    // stall whose slow pass is mostly collection time is a memory/GC
    // mechanism; one with ~zero GC is scheduler/IO.
    val spreadGc = spreadVerdicts.filter(_.reproduced)
      .map(v => v.name -> v.gcOfSlowest)
    // Per-query wall-clock budget: an ABSOLUTE cap (default 8 s — the
    // most expensive sound query at sf0.1 is ~5.6 s) complementing the
    // ratio-based canary, which a query that ENTERS the suite already
    // slow never trips. r12's gate run grew to 38:52 wall-clock; this
    // keeps each new query's cost visible so the next 50 additions
    // can't silently push the suite past the harness's patience.
    val budgetSec = sys.env
      .getOrElse("SPARK_GRAFT_QUERY_BUDGET_SEC", "8.0").toDouble
    // Per-query overrides ride BASELINE_REBASES.json keyed to THIS
    // artifact name (the Sf10Probe discipline, adopted for the full
    // sweep in r18): q185's audited honest sf10 cost exceeds the
    // uniform 300 s sweep budget, and re-basing that one query with
    // provenance beats either loosening every query's gate or shipping
    // a permanent known-cause overage flag.
    val budgetOv = budgetOverrides(cwd, resultsName)
    val overBudget = results
      .filter { case (k, v) => v > budgetOv.getOrElse(k, budgetSec) }
      .sortBy(-_._2)
    // Contention-vs-code separation: the fleet's median now/prev ratio
    // next to the calibration probe's own ratio. r11's raw 1.24× median
    // was fully explained by a measured 1.85× contention factor, but a
    // reader had to join two artifacts by hand to see it; these two
    // fields make that comparison machine-readable in one place.
    val fleetMed = fleetMedianRatio(prevQueries, results)
    val calibRatio = prevBlob.flatMap(parseCalibEnd)
      .collect { case p if p > 0 => calibEnd / p }
    // Canonical-baseline calib gate (r19): a run whose fixed-load probe
    // ENDS past Probe.CalibGateMaxRatio × the recorded quiet steady state
    // (BASELINE_REBASES "calib_steady" entry) self-marks non-canonical —
    // it must not be committed as the next round's canary baseline, and
    // its regression flags are to be read against the elevated calib.
    val gate = Probe.calibGate(calibSteadySec(cwd, resultsName), calibEnd)
    // bytes-moved-per-query maps (pass-1 windows; standing memos warm
    // when the warmup pass ran, cold on SPARK_GRAFT_WARMUP=0 runs)
    def bytes(sel: TaskCounts => Long): Probe.Json = Probe.obj(names
      .flatMap(n => shuffleByQuery.get(n).map(t => n -> sel(t))): _*)
    // Baseline-rebase provenance rides INSIDE the artifact: the canary
    // baseline is whatever artifact was last committed, so a rebase is
    // an ordinary commit — this block (maintained in
    // BASELINE_REBASES.json: query, old, new, commit, cause) makes the
    // committed baseline self-describing instead of relying on PLANS.md
    // prose a future round could skip. The file is VALIDATED before
    // splicing (minifyJsonArray): a malformed rebase file must fail THIS
    // run loudly, not poison the artifact JSON the gate parsers read.
    val rebases = Probe.Json(rebasesJson(cwd))
    val failed = failedQueries.toSeq.sorted

    // Full results go to a FILE; stdout gets short lines. Rounds 8 and 9
    // both lost per-query data to the harness's ~2000-char stdout tail
    // window (r9: 199 queries × 12 chars overflowed it and the driver
    // recorded parsed:null — the totals were unrecoverable). The file
    // has no size constraint, so it carries everything at full
    // precision; the stdout contract line only carries the total and a
    // pointer to the file, and its length is independent of query count
    // (pinned by Round10Spec).
    Probe.writeArtifact(resultsName, Probe.obj(
      "metric" -> "total", "value" -> total, "unit" -> "sec", "sf" -> sfDir,
      "n_queries" -> results.size, "queries" -> Probe.obj(results: _*),
      "spread" -> Probe.obj(spreads: _*),
      "regressions" -> Probe.obj(regressions: _*),
      "regressions_retired" -> Probe.obj(regressionsRetired: _*),
      "regression_gc_sec" -> Probe.obj(regressionGc: _*),
      "regressions_reprobed" -> regReprobed,
      "spread_outliers" -> Probe.obj(spreadOut: _*),
      "spread_retired" -> Probe.obj(spreadRetired: _*),
      "spread_gc_sec" -> Probe.obj(spreadGc: _*),
      "failed_in_reprobe" -> Probe.arr(failedInReprobe.toSeq.sorted),
      "budget_sec" -> budgetSec, "n_over_budget" -> overBudget.size,
      "over_budget" -> Probe.obj(overBudget: _*),
      "fleet_median_ratio" -> fleetMed, "calib_ratio" -> calibRatio,
      "calib_steady_sec" -> gate.steadySec,
      "calib_end_vs_steady" -> gate.endVsSteady,
      "calib_gate_max_ratio" -> Probe.CalibGateMaxRatio,
      "canonical" -> gate.canonical,
      "shuffle_read_bytes" -> bytes(_.shuffleRead),
      "shuffle_write_bytes" -> bytes(_.shuffleWrite),
      "spilled_bytes" -> bytes(_.spill), "rebases" -> rebases,
      "writes" -> writes, "partitioned_files" -> nFiles,
      "partitioned_bytes" -> nBytes, "calib_start" -> calibStart,
      "calib_end" -> calibEnd, "standing_mem_bytes" -> standMem,
      "standing_disk_bytes" -> standDisk, "standing_released" -> released,
      "standing_mem_bytes_post_release" -> postRelMem,
      "standing_disk_bytes_post_release" -> postRelDisk,
      "standing_rebuild_sec" -> rebuildSec,
      "failed" -> Probe.arr(failed)).text)

    // Stop Spark BEFORE printing so no shutdown log line lands after the
    // contract line; the line the harness parses must be the final thing
    // on stdout.
    spark.stop()
    // Per-query map on stdout (r19 verdict task 1): PERF_r19 came back
    // with per_query {} because the map lived only in the results file
    // (overwritten by each driver run) while stdout carried totals.
    // Printed FIRST of the end-of-run lines so the harness's ~2000-char
    // tail window still ends with the contract lines (writes /
    // regressions / total) whatever the query count; a full-stdout
    // parser sees the map, a tail parser is unaffected.
    println(queriesLine(results))
    println(Probe.obj("metric" -> "writes", "unit" -> "sec",
      "writes" -> writes, "partitioned_files" -> nFiles,
      "partitioned_bytes" -> nBytes, "calib_start" -> calibStart,
      "calib_end" -> calibEnd))
    // canary line: worst 8 regressions, failures and spread outliers and
    // worst 4 over-budget queries only, so the line stays small at any
    // count (full maps in the file); the n_ fields carry the true totals.
    // Failed queries ride it: a crash-regression must not read as a
    // speedup.
    println(Probe.obj("metric" -> "regressions",
      "baseline" -> s"git HEAD $resultsName",
      "n_regressions" -> regressions.size,
      "n_regressions_retired" -> regressionsRetired.size,
      "n_failed" -> failed.size, "failed" -> Probe.arr(failed.take(8)),
      "worst" -> Probe.obj(regressions.take(8): _*),
      "n_over_budget" -> overBudget.size,
      "over_budget" -> Probe.obj(overBudget.take(4): _*),
      "n_spread_outliers" -> spreadOut.size,
      "spread_outliers" -> Probe.obj(spreadOut.take(8): _*),
      "n_spread_retired" -> spreadRetired.size,
      "fleet_median_ratio" -> fleetMed, "calib_ratio" -> calibRatio,
      "calib_end_vs_steady" -> gate.endVsSteady,
      "canonical" -> gate.canonical))
    println(totalLine(total, results.size, sfDir, resultsFile.toString))
  }

  /** Per-query budget overrides for the named artifact, from
    * BASELINE_REBASES.json entries carrying `{"query", "baseline":
    * <artifact name>, "budget_sec"}` — the same provenance file the
    * timing rebases live in, so every budget exception names its query,
    * evidence, commit, and cause. The file is structurally validated
    * first (malformed input fails the run loudly instead of silently
    * dropping overrides). Empty when the file is absent. */
  def budgetOverrides(cwd: String,
                      baselineName: String): Map[String, Double] =
    rebaseOverrides(cwd, baselineName, "budget_sec")

  /** Per-query regression-reopen thresholds for the named artifact, from
    * BASELINE_REBASES.json entries carrying `{"query", "baseline",
    * "reopen_sec"}`. For a query with an override, the round-over-round
    * regression CANDIDATE rule becomes `sec > reopen_sec` (an absolute
    * threshold with recorded provenance) instead of the generic
    * ratio>2×+0.3 s rule — the q204 run-state-bimodality audit's "reopen
    * only past 6.4 s" line, machine-read instead of PLANS.md prose. */
  def reopenOverrides(cwd: String,
                      baselineName: String): Map[String, Double] =
    rebaseOverrides(cwd, baselineName, "reopen_sec")

  /** Per-query `<field>` values of BASELINE_REBASES.json entries
    * `{"query", "baseline": <artifact>, "<field>": N}` for the named
    * artifact. */
  private def rebaseOverrides(cwd: String, baselineName: String,
                              field: String): Map[String, Double] =
    rebaseEntries(cwd).flatMap { e =>
      for {
        q <- e.get("query")
        if e.get("baseline").contains(baselineName)
        v <- e.get(field).flatMap(_.toDoubleOption)
      } yield q -> v
    }.toMap

  /** The box's quiet-steady-state fixed-load calib seconds, from the
    * BASELINE_REBASES.json entry `{"scope": "calib_steady",
    * "steady_sec": N, "baseline": <artifact>|"*"}` — "*" applies to
    * every artifact (the probe is data-independent, so steady state is
    * a property of the box, not the scale tier). None when unrecorded
    * (then the gate cannot judge and the run counts as canonical). */
  def calibSteadySec(cwd: String, baselineName: String): Option[Double] = {
    val hits = rebaseEntries(cwd).flatMap { e =>
      for {
        b <- e.get("baseline")
        if e.get("scope").contains("calib_steady") &&
          (b == baselineName || b == "*")
        s <- e.get("steady_sec").flatMap(_.toDoubleOption)
      } yield b -> s
    }
    // an exact artifact match wins over the "*" box-wide entry
    hits.find(_._1 == baselineName).orElse(hits.headOption).map(_._2)
  }

  /** BASELINE_REBASES.json under `cwd`, minified and structurally
    * validated by [[minifyJsonArray]] (malformed input fails the run
    * loudly); "[]" when the file is absent. */
  def rebasesJson(cwd: String): String = {
    val p = java.nio.file.Paths.get(cwd, "BASELINE_REBASES.json")
    if (java.nio.file.Files.exists(p))
      minifyJsonArray(java.nio.file.Files.readString(p))
    else "[]"
  }

  /** The flat entries of [[rebasesJson]], each as its string and number
    * fields (no JSON library on the classpath by the zero-dependency
    * rule; the entries are flat objects by construction). */
  private def rebaseEntries(cwd: String): Seq[Map[String, String]] =
    """\{[^{}]*\}""".r.findAllIn(rebasesJson(cwd)).map { obj =>
      """"([^"]+)":(?:"([^"]*)"|([0-9.]+))""".r.findAllMatchIn(obj)
        .map(m => m.group(1) -> Option(m.group(2)).getOrElse(m.group(3)))
        .toMap
    }.toSeq

  /** String-aware minify + structural validation of a JSON array blob
    * destined for splicing into the bench artifact: whitespace is
    * stripped only BETWEEN tokens (never inside string values), and the
    * blob must be a bracket-balanced array or this throws — a malformed
    * BASELINE_REBASES.json must fail the run loudly instead of writing
    * an artifact the gate parsers can't read. (No JSON library on the
    * classpath by the zero-dependency rule; bracket balance + string
    * tracking is the sufficient structural check for a splice.) */
  def minifyJsonArray(txt: String): String = {
    val out = new StringBuilder
    var inStr = false; var esc = false; var depth = 0
    txt.foreach { ch =>
      if (inStr) {
        out.append(ch)
        if (esc) esc = false
        else if (ch == '\\') esc = true
        else if (ch == '"') inStr = false
      } else ch match {
        case c if c.isWhitespace => ()
        case '"' => inStr = true; out.append(ch): Unit
        case '[' | '{' => depth += 1; out.append(ch): Unit
        case ']' | '}' =>
          depth -= 1
          require(depth >= 0, "BASELINE_REBASES.json: unbalanced brackets")
          out.append(ch): Unit
        case c => out.append(c): Unit
      }
    }
    val s = out.toString
    require(!inStr && depth == 0 && s.startsWith("[") && s.endsWith("]"),
      s"BASELINE_REBASES.json is not a well-formed JSON array: " +
        s.take(80))
    s
  }

  /** Where the results artifact `name` is written: a relative name
    * resolves against `cwd`, an absolute one is taken as it is. */
  def resultsPath(cwd: String, name: String): java.nio.file.Path =
    java.nio.file.Paths.get(cwd).resolve(name)

  /** The committed previous artifact via `git show HEAD:<file>` — the
    * canary's baseline must be the last ROUND's numbers, not whatever an
    * unreverted local run left on disk (which would silently rebase the
    * diff and mask a regression). None when git is unavailable, the repo
    * has no HEAD, or the file isn't committed — callers fall back to the
    * on-disk artifact. */
  def committedPrevBlob(cwd: String, file: String): Option[String] =
    try {
      import scala.sys.process._
      val out = new StringBuilder
      val code = Process(Seq("git", "-C", cwd, "show", s"HEAD:$file"))
        .!(ProcessLogger(l => { out.append(l); out.append('\n'): Unit },
          _ => ()))
      if (code == 0 && out.nonEmpty) Some(out.toString) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `calib_end` out of a bench_results.json blob — the fixed-load
    * contention probe of the committed previous round, denominator of
    * the calib_ratio the canary line reports. */
  def parseCalibEnd(txt: String): Option[Double] =
    """"calib_end":([0-9.]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toDouble)

  /** Streamed queries get a WIDER spread gate: each pass starts a fresh
    * streaming query (new temp checkpoint, state-store init, micro-batch
    * scheduling), which is not steady-state measurable the way batch
    * plans are — r16 flagged q251 [2.0, 12.1 s] and q252 [1.35, 6.6 s]
    * in-suite while quiet-box isolation measured both tight (q251 max
    * 3.0 s, q252 max 1.2 s over repeated triples): the tail passes are
    * suite-interaction stalls in the streaming machinery, not code. The
    * per-pass MIN (what the canary and budget judge) is unaffected; the
    * wider bound only stops the spread flag from re-raising known
    * micro-batch scheduling variance every round. Real streamed
    * regressions still trip the ratio canary and the absolute budget. */
  private val streamedSpreadBound = (8.0, 15.0) // (ratio, seconds)

  /** Intra-run spread outliers: queries whose pass-to-pass spread is
    * max/min > 3× AND max − min > 2 s (both bounds — a 0.1→0.4 s blip
    * is scheduler noise, and a 20→45 s iterative query moving 2.2× is
    * inside the fleet's noise band). The r11 q159 case ([4.0, 43.0] s)
    * is exactly what this flags. Streamed queries use
    * [[streamedSpreadBound]] instead. Crashed queries (-1 poison) are
    * the failed list's job, not this one's. */
  def spreadOutliers(spreads: Seq[(String, (Double, Double))])
      : Seq[(String, (Double, Double))] = {
    val streamed = graft.operators.StreamedQueries.all.map(_.name).toSet
    spreads.filter { case (name, (lo, hi)) =>
      val (r, s) =
        if (streamed(name)) streamedSpreadBound else (3.0, 2.0)
      lo > 0 && hi / lo > r && hi - lo > s
    }.sortBy { case (_, (lo, hi)) => -(hi / lo) }
  }

  /** Median of this-run/previous-round per-query ratios over the shared
    * query set — the fleet-wide drift number to read NEXT TO calib_ratio:
    * fleet ≈ calib means contention, fleet ≫ calib means code. None when
    * no queries are shared (first round). */
  def fleetMedianRatio(prev: Map[String, Double],
                       now: Seq[(String, Double)]): Option[Double] = {
    val ratios = now.flatMap { case (name, sec) =>
      prev.get(name).collect { case p if p > 0 && sec > 0 => sec / p }
    }.sorted
    if (ratios.isEmpty) None else Some(ratios(ratios.size / 2))
  }

  /** The previous round's per-query minima out of a bench_results.json
    * blob (the flat `"queries":{...}` block — it contains no nested
    * braces by construction, so the extraction is a two-regex parse
    * with no JSON library). Empty map if the blob has no such block. */
  def parsePrevQueries(txt: String): Map[String, Double] =
    """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
      .map(m => """"([^"]+)":([0-9.]+)""".r.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2).toDouble).toMap)
      .getOrElse(Map.empty)

  /** Round-over-round regression flags, worst first: ratio > 2× AND
    * absolute growth > 0.3 s (the ratio alone would flag 0.04 s →
    * 0.09 s scheduling blips). Queries with no baseline are skipped. */
  def regressionsAgainst(prev: Map[String, Double],
                         now: Seq[(String, Double)]): Seq[(String, Double)] =
    now.flatMap { case (name, sec) =>
      prev.get(name).collect {
        case p if p > 0 && sec > 2 * p && sec - p > 0.3 =>
          name -> sec / p
      }
    }.sortBy(-_._2)

  /** Regression CANDIDATES, worst first: [[regressionsAgainst]] for
    * most queries, but a query with a `reopen_sec` override from
    * BASELINE_REBASES.json is judged by `sec > reopen_sec` instead —
    * the per-query absolute threshold an audited bimodal query (q204)
    * carries with provenance. The reported ratio is vs the committed
    * baseline when one exists, else vs the threshold itself. Since r19
    * candidates are RE-PROBED in-run before any is emitted as a
    * regression (the spread channel's self-verify, extended). */
  def regressionCandidates(prev: Map[String, Double],
                           now: Seq[(String, Double)],
                           reopen: Map[String, Double])
      : Seq[(String, Double)] = {
    val overridden = now.flatMap { case (name, sec) =>
      reopen.get(name).collect { case r if sec > r && sec > 0 =>
        name -> prev.get(name).filter(_ > 0).map(sec / _)
          .getOrElse(sec / r)
      }
    }
    val default =
      regressionsAgainst(prev, now.filterNot(q => reopen.contains(q._1)))
    (overridden ++ default).sortBy(-_._2)
  }

  /** The driver-contract stdout line: total + query count + a pointer to
    * the full per-query artifact. Deliberately does NOT embed the
    * per-query map — the line must stay inside the harness's ~2000-char
    * tail window at ANY query count (BenchLineSpec pins the bound).
    */
  def totalLine(total: Double, nQueries: Int, sfDir: String,
                file: String): String =
    Probe.obj("metric" -> "total", "value" -> total, "unit" -> "sec",
      "n_queries" -> nQueries, "sf" -> sfDir, "file" -> file).text

  /** One-line per-query map for stdout (r19 verdict task 1). Bounded
    * precision (3 decimals), one line regardless of query count; crashed
    * queries carry their -1 poison so a parser never mistakes a crash
    * for a 0-second run. Kept OUT of totalLine so the tail-window bound
    * Round10Spec pins is untouched. */
  def queriesLine(results: Seq[(String, Double)]): String =
    Probe.obj("metric" -> "queries", "unit" -> "sec",
      "n_queries" -> results.size, "queries" -> Probe.obj(results: _*)).text
}
