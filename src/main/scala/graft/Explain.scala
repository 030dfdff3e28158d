package graft

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}

/** Plan-inspection utility: prints the formatted physical plan of one
  * registered query (or all) so shuffle count, exchange reuse, pushed
  * filters, and whole-stage-codegen spans can be iterated on without a
  * full bench run.
  *
  * Usage: runMain graft.Explain <query_name[,query_name…]|all> [sfDir] [-run]
  * A comma-separated list runs the queries in the given order in ONE JVM —
  * the tool for measuring cross-query interaction (cleanup bleed, cache
  * pressure) that per-query invocations can't see.
  * With -run the query is executed (timed) and the FINAL adaptive plan is
  * printed — the only way to see AQE's runtime decisions (stage reuse,
  * join strategy switches, coalesced partitions).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val run = args.contains("-run")
    val rest = args.filterNot(_ == "-run")
    val name = rest.headOption.getOrElse("all")
    val sfDir =
      if (rest.length > 1) rest(1) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Probe.session(cpus, cpus, "ERROR")
    val names =
      if (name == "all") SparkEntry.queries.keys.toSeq.sorted
      else name.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    import Probe.fmt
    def explain(qe: QueryExecution): String =
      qe.explainString(ExplainMode.fromString("formatted"))
    names.foreach { n =>
      println(s"========== $n ==========")
      if (!run)
        println(explain(SparkEntry.queries(n)(spark, sfDir).queryExecution))
      else {
        var plan = ""
        val cold =
          Probe.measure(spark, sfDir, n, inspect = qe => plan = explain(qe))
        cold.failure.foreach(e => println(s"[$n] FAILED: $e"))
        if (!cold.failed) {
          println(s"[$n] rows=${cold.rows} plan=${fmt(cold.planSec)} " +
            s"exec=${fmt(cold.execSec)} (final adaptive plan below)")
          // a second fresh build shows steady-state planning cost (first
          // build pays rule-executor warmup)
          var phases = Seq.empty[String]
          val warm = Probe.measure(spark, sfDir, n, inspect = qe =>
            phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map {
              case (phase, s) => f"[$n]   phase $phase%-12s " +
                fmt((s.endTimeMs - s.startTimeMs) / 1e3) })
          println(s"[$n] warm: plan=${fmt(warm.planSec)} " +
            s"exec=${fmt(warm.execSec)}")
          phases.foreach(println)
          println(plan)
        }
      }
    }
    spark.stop()
  }
}
