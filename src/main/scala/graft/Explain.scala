package graft

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
    val spark = GraftSession.tool(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (name == "all") SparkEntry.queries.keys.toSeq.sorted
      else name.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      println(s"========== $n ==========")
      if (run) {
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t1 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        println(f"[$n] rows=$rows plan=${(t1 - t0) / 1e9}%.3f " +
          f"exec=${(t2 - t1) / 1e9}%.3f (final adaptive plan below)")
        // a second fresh build shows steady-state planning cost (first
        // build pays rule-executor warmup)
        val t3 = System.nanoTime()
        val df2 = SparkEntry.queries(n)(spark, sfDir)
        df2.queryExecution.executedPlan
        val t4 = System.nanoTime()
        df2.queryExecution.toRdd.count()
        val t5 = System.nanoTime()
        println(f"[$n] warm: plan=${(t4 - t3) / 1e9}%.3f " +
          f"exec=${(t5 - t4) / 1e9}%.3f")
        df2.queryExecution.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
          .foreach { case (phase, s) =>
            println(f"[$n]   phase $phase%-12s ${(s.endTimeMs - s.startTimeMs) / 1e3}%.3f") }
      }
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
