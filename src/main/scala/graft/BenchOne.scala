package graft

/** Isolation timer: run ONLY the named queries (same session, barrier
  * and materialization as [[Bench]], all through [[Probe]] — a cold run,
  * then min-of-3) and print one JSON line per query. The tool the r9
  * q61 / r10 q185 investigations needed: an in-suite number that moves
  * with zero code change on the query's path is either positional
  * contamination (predecessor GC/cleaner residue billing the timing
  * window) or environmental — the standalone number from this main
  * decides which. A query that fails prints `"min":-1` and its failure;
  * the other queries still print.
  *
  * Usage: runMain graft.BenchOne <query> [<query> ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SHUFFLE.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName> [...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Probe.session(cpus, cpus)
    // Bench's data-movement counters, plus job/stage/task counts per
    // timed pass: isolation runs answer "does the fix hold" questions,
    // and for the spill class the decisive number is spilled bytes, not
    // seconds; the streamed-wave family's residual cost is per-JOB fixed
    // overhead (scheduling, commit protocol), invisible in bytes/seconds;
    // compiles per pass is 0 unless the generated-class working set
    // overflows the codegen cache, which re-bills Janino every pass
    val counters = Some(TaskCounters.register(spark))
    val lines = args.toSeq.map { name =>
      // the first run (codegen, footers, standing memos) is reported as
      // `cold`: cold − min is the standing-build + first-run cost, a
      // warm/cold split per query without a separate probe run
      val cold = Probe.measure(spark, sfDir, name)
      val obs =
        if (cold.failed) Nil
        else (1 to 3).map(_ => Probe.measure(spark, sfDir, name, 200, counters))
      (cold +: obs).flatMap(_.failure).headOption match {
        case Some(e) =>
          Probe.obj("query" -> name, "min" -> -1, "failed" -> e.toString,
            "sf" -> sfDir)
        case None =>
          // bytes and counts are per timed PASS (the 3-run total divided
          // by 3) so they compare directly with Bench's per-query deltas
          val d = obs.flatMap(_.counts).reduce(_ + _)
          val secs = obs.map(_.sec)
          Probe.obj("query" -> name, "min" -> secs.min, "max" -> secs.max,
            "cold" -> cold.sec, "shuffle_read_bytes" -> d.shuffleRead / 3,
            "shuffle_write_bytes" -> d.shuffleWrite / 3,
            "spilled_bytes" -> d.spill / 3, "jobs" -> d.jobs / 3,
            "stages" -> d.stages / 3, "tasks" -> d.tasks / 3,
            "compiles" -> d.compiles / 3, "sf" -> sfDir)
      }
    }
    spark.stop()
    lines.foreach(println)
  }
}
