package graft

import java.time.LocalDate

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan guards: the scale-critical plan properties stay true as
  * the code evolves — broadcast joins on all dim sides, WindowGroupLimit
  * for the top-1 ranking, pushed filters on the fact scan, whole-stage
  * codegen coverage.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  val dir = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  /** Shuffle exchanges in a physical plan, looking inside AQE wrappers. */
  def shuffles(p: SparkPlan): Int =
    collect(p) { case s: ShuffleExchangeLike => s }.size

  test("q03 net demand: all four joins broadcast; top-1 uses " +
    "WindowGroupLimit; no sort-merge join") {
    val p = plan("q03_net_demand")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, p.take(2000))
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("fact scans carry pushed filters (partition-pruning predicate " +
    "reaches parquet)") {
    val p = plan("q01_aggregate_orders")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
  }

  test("anti-joins plan as broadcast where the dim side is small") {
    val p = plan("q05_missing_supplier")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("scan prunes columns: fingerprint query reads only doc_id + text") {
    val p = plan("q21_doc_fingerprint")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(2000))
  }

  test("q270 hhi: one data-sized exchange (the explicit part " +
    "repartition) feeds the (part,supp) aggregate, the part-window " +
    "total AND the hhi aggregate — no self-join, single lineitem scan") {
    val p = plan("q270_supplier_hhi")
    // the r19 rewrite: hashpartitioning(l_partkey) satisfies all three
    // part-grain operators (subset rule), so the only exchanges are the
    // REPARTITION_BY_COL and the two bounded-domain finals
    assert("Exchange hashpartitioning\\(l_partkey".r.findAllIn(p).size == 1,
      p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(2000))
    assert(p.contains("Window"), p.take(2000))
  }

  test("ivf assignment is map-side: corpus rows never shuffle (every " +
    "exchange sits inside the broadcast centroid subtree) and there is " +
    "no window") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeLike, ShuffleExchangeLike}
    val emb = graft.sources.Tables.load(spark, dir, "embeddings")
    val qe = graft.functions.Similarity.ivfAssign(emb, 8).queryExecution
    val p = qe.sparkPlan
    // exchanges reachable without passing through a broadcast: these are
    // the ones corpus rows would flow through — there must be none
    def offenders(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: BroadcastExchangeLike => Nil
      case s: ShuffleExchangeLike => Seq(s)
      case other => other.children.flatMap(offenders)
    }
    assert(offenders(p).isEmpty, p.toString.take(2000))
    assert(!p.toString.contains("Window"), p.toString.take(2000))
  }

  test("repetition metrics are map-side: no explode, no aggregation " +
    "exchange — the only shuffle is the presentation sort") {
    val qe = SparkEntry.queries("q60_repetition_metrics")(spark, dir)
      .queryExecution
    val p = qe.sparkPlan
    // at most the ORDER BY's range exchange (none at all when the tiny
    // test scan is a single partition)
    assert(shuffles(p) <= 1, p.toString.take(2000))
    assert(!p.toString.contains("Generate"), p.toString.take(2000))
    assert(!p.toString.contains("HashAggregate"), p.toString.take(2000))
  }

  test("SQL-dialect net demand equals the DataFrame plan's results") {
    val ps = new ProcurementSpec
    ps.orders.createOrReplaceTempView("orders")
    ps.inventory.createOrReplaceTempView("inventory")
    ps.products.createOrReplaceTempView("products")
    ps.suppliers.createOrReplaceTempView("suppliers")
    ps.productSuppliers.createOrReplaceTempView("product_suppliers")
    val d = LocalDate.parse("2026-01-13")
    val viaSql = graft.operators.Procurement
      .netDemandSql(spark, d).collect().map(_.toSeq).toSet
    val viaDf = graft.operators.Procurement
      .netDemand(ps.orders, ps.inventory, ps.products, ps.suppliers,
        ps.productSuppliers, d)
      .collect().map(_.toSeq).toSet
    assert(viaSql == viaDf && viaSql.nonEmpty)
  }

  test("incremental near-dup probes the index in place: no shuffle sits " +
    "directly over an index-table scan (the only shuffles move " +
    "candidate-pair-sized join outputs)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = SparkEntry.queries("q67_incremental_neardup")(spark, dir)
      .queryExecution.sparkPlan
    def hasJoin(n: SparkPlan): Boolean =
      n.collect { case j: BaseJoinExec => j }.nonEmpty
    val offenders = p.collect {
      case s: ShuffleExchangeLike
        if s.child.toString.contains("ndx_") && !hasJoin(s.child) => s
    }
    assert(offenders.isEmpty, offenders.mkString("\n").take(2000))
  }

  test("quality-filter verdict is one map-side pass: no Generate, no " +
    "aggregation exchange — at most the presentation sort shuffles") {
    val p = SparkEntry.queries("q72_quality_filter")(spark, dir)
      .queryExecution.sparkPlan
    assert(shuffles(p) <= 1, p.toString.take(2000))
    assert(!p.toString.contains("Generate"), p.toString.take(2000))
  }

  test("min_k plans as ObjectHashAggregate — the bounded-buffer " +
    "aggregate must not fall back to sort-based aggregation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val p = Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
      .groupBy("g").agg(graft.functions.Sketches.minK(col("v"), 4))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(!p.contains("SortAggregate"), p.take(1500))
  }

  test("incremental ANN assignment is map-side over the batch: the only " +
    "exchanges are the k-row centroid collapse (inside the broadcast " +
    "subtree) and the presentation sort") {
    val p = plan("q86_incremental_assign")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"batch rows entered a hash exchange:\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange"), p.take(1500))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id)"), p.take(1500))
  }

  test("decontamination scores the corpus map-side: every exchange sits " +
    "inside the broadcast eval-set subtree") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeLike, ShuffleExchangeLike}
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val p = graft.functions.Dedup.contamination(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 17 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 17 === 0))
      .queryExecution.sparkPlan
    def offenders(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: BroadcastExchangeLike => Nil
      case s: ShuffleExchangeLike => Seq(s)
      case other => other.children.flatMap(offenders)
    }
    assert(offenders(p).isEmpty, p.toString.take(2000))
  }

  test("quota sampling has no window: selection is the bounded min_k " +
    "aggregate + a broadcast semi-join") {
    val p = plan("q107_quota_sample")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("champion pairs: bounded champion selection (no per-term sort " +
    "window), pairs generated map-side (no self-join of the tf relation)") {
    val p = plan("q105_champion_pairs")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("sliding windows are pure map-side: zero exchanges, zero joins") {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val p = graft.functions.Mixing.slidingWindows(docs, 32, 24)
      .queryExecution.sparkPlan
    assert(shuffles(p) == 0, p.toString.take(2000))
    assert(!p.toString.contains("Join"), p.toString.take(2000))
  }

  test("q101 incremental clusters: the batch pair frame is materialized " +
    "once, so the executed plan holds a bounded number of shuffles") {
    // Dedup.applyClusterBatch checkpoints the batch pair frame; without
    // it the LSH probe chain re-plans under each of its three consumers
    val p = SparkEntry.queries("q101_incremental_clusters")(spark, dir)
      .queryExecution.executedPlan
    val n = shuffles(p)
    // 2 on this data: the fresh-endpoint distinct and the final sort
    assert(n <= 2, s"$n shuffle exchanges:\n${p.toString.take(3000)}")
  }

  test("q103's range-join aggregate plans with NO nested-loop or " +
    "cartesian probe anywhere — window totals come from broadcast-hash " +
    "prefix lookups, not point-interval pair materialization") {
    val p = plan("q103_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
    // the two calendar prefix lookups (cum[d+13], cum[d−1]) must be
    // broadcast equi-joins: the prefix table is calendar-bounded at any
    // data scale, the orders side streams through map-side
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the unpartitioned prefix window runs over the RUNTIME-CERTIFIED
    // calendar frame — now a STANDING memo (Standing.frame persist of
    // the Bounded.globalWindowFrame checkpoint), so the plan reads the
    // in-memory relation (whose child is the checkpoint's Scan
    // ExistingRDD) — never a raw recomputed input
    assert(p.contains("InMemoryTableScan") ||
      p.contains("Scan ExistingRDD"), p.take(2000))
  }

  test("vocabulary→encode join is size-conditional: AQE broadcasts the " +
    "vocab below the threshold, and past it the join falls back to a " +
    "shuffle join on term (no forced broadcast hint)") {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    def finalPlan(threshold: String): String = {
      val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      keys.foreach(spark.conf.set(_, threshold))
      try {
        val df = graft.functions.Retrieval.encodeTokens(docs)
        df.collect() // drive AQE to its final plan
        df.queryExecution.executedPlan.toString
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    // broadcasting disabled everywhere = the "vocabulary too big" regime:
    // the encode join must fall back to a shuffled join on term. (The
    // one BroadcastHashJoin that remains is vocabulary()'s offsets join,
    // whose side is bounded at shuffle.partitions rows and explicitly
    // hinted.)
    val big = finalPlan("-1")
    assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
      big.take(2000))
    // default thresholds = the small-vocab regime: AQE converts the
    // unhinted join to broadcast at runtime — no shuffled join survives
    val small = finalPlan("10485760")
    assert(!small.contains("SortMergeJoin") &&
      !small.contains("ShuffledHashJoin"), small.take(2000))
    assert(small.contains("BroadcastHashJoin"), small.take(2000))
  }

  test("media near-dup band joins plan as equi-joins — never a " +
    "nested-loop or cartesian all-pairs comparison") {
    Seq("q161_image_neardup", "q163_audio_neardup",
      "q165_video_neardup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
      assert(p.contains("Join"), s"$q:\n${p.take(1500)}")
    }
  }

  test("entity resolution blocks on q-grams: no nested-loop or " +
    "cartesian pair generation in either the one-shot or the " +
    "incremental plan") {
    Seq("q157_entity_resolution", "q159_incremental_entities")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
      }
  }

  test("passage retrieval: the scorer's only nested-loop is the 1-row " +
    "stats broadcast (the A5 scalar pattern); no cartesian") {
    val p = plan("q167_passage_retrieval")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the one BNLJ is the 1-row global-stats cross join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, p.take(2000))
  }

  test("PII scan is one map-side pass: no join, and the only exchange " +
    "is the presentation sort") {
    val p = plan("q149_pii_scan")
    assert(!p.contains("Join"), p.take(1500))
    assert("Exchange".r.findAllIn(p).size == 1, p.take(1500))
    assert(p.contains("FileScan"), p.take(1500))
  }

  test("freq_items plans as ObjectHashAggregate — the bounded-counter " +
    "aggregate must not fall back to sort-based aggregation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val p = Seq(("a", "x"), ("b", "y")).toDF("g", "v")
      .groupBy("g").agg(graft.functions.Sketches.freqItems(col("v"), 4))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(!p.contains("SortAggregate"), p.take(1500))
  }
}
