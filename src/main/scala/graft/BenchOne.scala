package graft

/** Isolation timer: run ONLY the named queries (same session shape and
  * materialization as [[Bench]] — warmup, then min-of-3) and print one
  * JSON line per query. The tool the r9 q61 / r10 q185 investigations
  * needed: an in-suite number that moves with zero code change on the
  * query's path is either positional contamination (predecessor
  * GC/cleaner residue billing the timing window) or environmental — the
  * standalone number from this main decides which.
  *
  * Usage: runMain graft.BenchOne <query> [<query> ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName> [...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.tool(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.quietBoundedWindowWarnings()
    // Bench's data-movement counters, plus job/stage/task counts per
    // timed pass: isolation runs answer "does the fix hold" questions,
    // and for the spill class the decisive number is spilled bytes, not
    // seconds; the streamed-wave family's residual cost is per-JOB fixed
    // overhead (scheduling, commit protocol), invisible in bytes/seconds;
    // compiles per pass is 0 unless the generated-class working set
    // overflows the codegen cache, which re-bills Janino every pass
    val counters = TaskCounters.register(spark)
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count(): Unit
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val lines = args.toSeq.map { name =>
      // warmup (codegen, footers, standing memos) — timed and reported
      // as `cold`: cold − min is the standing-build + first-run cost, a
      // warm/cold split per query without a separate probe run
      val tc0 = System.nanoTime()
      run(name)
      val cold = (System.nanoTime() - tc0) / 1e9
      counters.drain()
      val c0 = counters.snapshot()
      val obs = (1 to 3).map { _ =>
        System.gc(); Thread.sleep(200)
        val t0 = System.nanoTime()
        run(name)
        (System.nanoTime() - t0) / 1e9
      }
      counters.drain()
      // bytes are per timed PASS (the 3-run total divided by 3) so the
      // numbers compare directly with Bench's per-query deltas
      val d = counters.snapshot() - c0
      s"""{"query":"$name","min":${fmt(obs.min)},"max":${fmt(obs.max)},""" +
        s""""cold":${fmt(cold)},""" +
        s""""shuffle_read_bytes":${d.shuffleRead / 3},""" +
        s""""shuffle_write_bytes":${d.shuffleWrite / 3},""" +
        s""""spilled_bytes":${d.spill / 3},""" +
        s""""jobs":${d.jobs / 3},"stages":${d.stages / 3},""" +
        s""""tasks":${d.tasks / 3},"compiles":${d.compiles / 3},""" +
        s""""sf":"$sfDir"}"""
    }
    spark.stop()
    lines.foreach(println)
  }
}
