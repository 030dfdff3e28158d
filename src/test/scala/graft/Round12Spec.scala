package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Standing, Tables, VersionedTable}

/** Round-12 items: the intra-run spread canary + calibration-normalized
  * canary fields, the committed-baseline read (`git show`), the
  * build-at-most-once guard (Standing, memoTable), and appendAt's
  * no-delete retry. */
class Round12Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- spread canary ------------------------------------------------------

  test("Bench.spreadOutliers flags >3x AND >2s intra-run spread only, " +
    "worst ratio first, and skips crash-poisoned entries") {
    val spreads = Seq(
      "a" -> ((4.0, 43.0)),   // the r11 q159 case: 10.7x, +39s: flagged
      "b" -> ((0.1, 0.45)),   // 4.5x but +0.35s: scheduler noise
      "c" -> ((20.0, 45.0)),  // +25s but 2.25x: fleet noise band
      "d" -> ((1.0, 3.5)),    // 3.5x, +2.5s: flagged
      "e" -> ((-1.0, -1.0)))  // crashed: the failed list's job
    val out = Bench.spreadOutliers(spreads)
    assert(out.map(_._1) == Seq("a", "d"))
  }

  test("Bench.fleetMedianRatio is the median now/prev over shared " +
    "queries and None when nothing is shared") {
    val prev = Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0, "gone" -> 9.0)
    val now = Seq("a" -> 1.1, "b" -> 4.0, "c" -> 4.0, "new" -> 7.0)
    // ratios sorted: 1.0, 1.1, 2.0 -> median 1.1
    assert(Bench.fleetMedianRatio(prev, now).contains(1.1))
    assert(Bench.fleetMedianRatio(Map.empty, now).isEmpty)
    // crash-poisoned now values never contribute a ratio
    assert(Bench.fleetMedianRatio(Map("a" -> 1.0),
      Seq("a" -> -1.0)).isEmpty)
  }

  test("Bench.parseCalibEnd reads the committed probe value") {
    assert(Bench.parseCalibEnd(
      """{"calib_start":0.066,"calib_end":0.122,"q":1}""").contains(0.122))
    assert(Bench.parseCalibEnd("{}").isEmpty)
  }

  test("Bench.committedPrevBlob reads HEAD's artifact (immune to an " +
    "unreverted local bench run) and is None for uncommitted paths") {
    val blob = Bench.committedPrevBlob("/root/repo", "bench_results.json")
    assert(blob.nonEmpty, "bench_results.json must be committed at HEAD")
    assert(blob.get.contains("\"queries\""))
    // the committed blob parses with the same parser main uses
    assert(Bench.parsePrevQueries(blob.get).nonEmpty)
    assert(Bench.committedPrevBlob("/root/repo", "no_such_file.json").isEmpty)
  }

  // --- Standing: build-at-most-once ---------------------------------------

  // One race, every build-once owner: 8 threads hit the same key first,
  // the build counts and sleeps to widen the window. Each case is the
  // owner's accessor plus its cleanup.
  private val buildOnceOwners
      : Seq[(String, (String, () => DataFrame) => DataFrame, String => Unit)] =
    Seq(
      ("Standing.frame",
        (dir, build) => Standing.frame(spark, dir, "once")(build()),
        dir => assert(Standing.release(spark, dir) == 1)),
      // at-most-once here means no two racing saveAsTable(overwrite)
      // calls on one catalog path
      ("Tables.memoTable",
        (dir, build) => Tables.memoTable(spark, dir, "once")(build()),
        _ => ()))

  buildOnceOwners.foreach { case (owner, access, cleanup) =>
    test(s"$owner runs the build thunk at most once under " +
      "concurrent first access (eager side effects inside thunks must " +
      "not duplicate)") {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-r12-once").toString
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val build = () => {
        builds.incrementAndGet()
        Thread.sleep(50) // widen the race window
        Seq((1L, "x")).toDF("k", "v")
      }
      val threads = (0 until 8).map { _ =>
        new Thread(() =>
          try { access(dir, build); () }
          catch { case e: Throwable => errors.add(e); () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(builds.get() == 1,
        s"thunk ran ${builds.get()} times; lazy-holder guard must cap at 1")
      assert(errors.isEmpty, s"racing callers threw: $errors")
      val built = access(dir, () => fail("must be cached"))
      assert(built.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq((1L, "x")))
      cleanup(dir)
    }
  }

  test("Standing.frame retries a build whose thunk threw (a transient " +
    "failure must not poison the registry entry)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r12-retry").toString
    var calls = 0
    def build = {
      calls += 1
      if (calls == 1) sys.error("transient")
      Seq((1L, "ok")).toDF("k", "v")
    }
    intercept[RuntimeException] {
      Standing.frame(spark, dir, "retry")(build)
    }
    val ok = Standing.frame(spark, dir, "retry")(build)
    assert(ok.collect().map(_.getString(1)).toSeq == Seq("ok"))
    assert(calls == 2)
    Standing.release(spark, dir)
  }

  // --- connectedComponents small-graph fast path --------------------------

  test("connectedComponents: driver fast path and forced-iterative path " +
    "produce identical min-id labels on the same graph") {
    import graft.functions.Dedup
    // chain + clique + isolated pair + a self-loop: exercises deep
    // propagation, the common near-dup shape, and degenerate edges
    val edges = ((1L to 99L).map(i => (i, i + 1)) ++
      Seq((200L, 201L), (200L, 202L), (201L, 202L), (300L, 301L),
        (400L, 400L))).toDF("id_a", "id_b")
    def labelsOf(limit: Int) = Dedup.connectedComponents(edges,
        localEdgeLimit = limit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = labelsOf(1 << 16) // 104 edges: under the limit
    val iter = labelsOf(0)       // forced iterative
    assert(fast == iter)
    assert((1L to 100L).forall(fast(_) == 1L))
    assert(Seq(200L, 201L, 202L).forall(fast(_) == 200L))
    assert(fast(300L) == 300L && fast(301L) == 300L)
    assert(fast(400L) == 400L)
    assert(fast.size == 106)
  }

  test("connectedComponents: a graph just past localEdgeLimit takes the " +
    "iterative path and still matches the fast path's labels") {
    import graft.functions.Dedup
    val edges = (1L to 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // limit 5 < 10 edges -> iterative; limit 1<<16 -> fast
    val iter = Dedup.connectedComponents(edges, localEdgeLimit = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(iter == fast)
    assert(iter.values.toSet == Set(1L))
  }

  // --- streamed end-state queries: replay idempotence ---------------------

  test("binBatch replay (crash-redelivery of the same batch id) rewrites " +
    "the same state; the fold never double-counts") {
    import graft.streaming.{MonitorStreams, VersionedState}
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft-r12-bins").toString
    val rows = (1 to 100).map(i => (i.toLong, (i % 7) * 10.0 + i % 3))
      .toDF("event_id", "value")
    MonitorStreams.binBatch(rows.filter(col("event_id") <= 50), 0L,
      stateDir, "value", 10.0)
    MonitorStreams.binBatch(rows.filter(col("event_id") > 50), 1L,
      stateDir, "value", 10.0)
    val after = spark.read.parquet(VersionedState.latest(spark, stateDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay batch 1 (reads committed v=0, rewrites v=1)
    MonitorStreams.binBatch(rows.filter(col("event_id") > 50), 1L,
      stateDir, "value", 10.0)
    val replayed = spark.read.parquet(VersionedState.latest(spark, stateDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == after)
    // and the fold total equals the one-shot count
    assert(replayed.values.sum == 100L)
  }

  // --- bounded no-partition window certification --------------------------

  test("q226/q228's single-partition window input is the decile bucket " +
    "table: bucket domain is [0,9], so the windowed frame is <= 10 " +
    "rows at any corpus size") {
    val sf = "/root/testdata/sf0.001"
    Seq("q226_bigram_novelty", "q228_incremental_novelty").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf).collect()
      assert(rows.length <= 10, s"$q: ${rows.length} buckets")
      val buckets = rows.map(_.getLong(0))
      assert(buckets.forall(b => b >= 0 && b <= 9), buckets.mkString(","))
      // the bound is structural, not data luck: bucket = first_doc*10
      // div (mx+1) with 0 <= first_doc <= mx
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("windowspecdefinition"), plan.take(500))
    }
  }

  test("unimaxAllocation's global windows run over the bounded source " +
    "dim: output rows == |sources| exactly") {
    import graft.functions.Mixing
    val counts = (1 to 37).map(i => (s"src$i", i.toLong * 1000))
      .toDF("source", "tokens")
    val out = Mixing.unimaxAllocation(counts, budgetTokens = 500000L,
      epochCap = 4)
    assert(out.count() == 37)
  }

  // --- appendAt: no-delete retry ------------------------------------------

  test("appendAt with a pre-existing orphan data/v=N dir lands in the " +
    "next suffix dir WITHOUT deleting the orphan (a concurrent " +
    "replayer's in-flight dir is indistinguishable from a crashed one)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r12-appendat").toString
    // simulate a crashed (or concurrent in-flight) first attempt:
    // data files exist, no log entry
    val orphan = new java.io.File(s"$dir/data/v=0")
    orphan.mkdirs()
    val marker = new java.io.File(orphan, "part-inflight.parquet")
    java.nio.file.Files.write(marker.toPath, Array[Byte](1, 2, 3))
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(VersionedTable.appendAt(df, dir, 0L))
    // the orphan dir and its file survive untouched
    assert(marker.exists, "retry must never delete a possibly-in-flight dir")
    assert(java.nio.file.Files.readAllBytes(marker.toPath).toSeq ==
      Seq[Byte](1, 2, 3))
    // the commit's files all live in a suffix dir, not the orphan
    val committed = VersionedTable.filesAt(spark, dir, 0L)
    assert(committed.nonEmpty && committed.forall(_.startsWith("data/v=0.")),
      committed.mkString(","))
    // and the snapshot reads the committed data only
    assert(VersionedTable.read(spark, dir).count() == 2)
    // a replay of the same batch id is a no-op
    assert(!VersionedTable.appendAt(df, dir, 0L))
  }

  // --- q252/q269 plan pins (the PLANS.md round-12 claims) -----------------

  test("q252's six attribution frames ride ONE (user) shuffle: the " +
    "window stage stacks WindowExecs over a single hashpartitioning " +
    "exchange, one per distinct frame") {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables.events(spark,
        "/root/testdata/sf0.001")
      .withColumn("ts_s", col("ts").cast("long"))
    val touch = when(
      col("event_type") === "click" || col("event_type") === "view",
      struct(col("ts_s"), col("event_id"), col("event_type")))
    def w(d: Long) = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s")).rangeBetween(-d * 86400L, -1L)
    val staged = ev.select(col("event_type") +:
      Seq(1L, 3L, 7L).flatMap(d => Seq(
        min(touch).over(w(d)).as(s"f$d"),
        max(touch).over(w(d)).as(s"l$d"))): _*)
    val p = staged.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(2000))
    // Spark 4 fuses all six expressions — three distinct frames, same
    // partitioning/ordering — into ONE WindowExec: a single pass over
    // the sorted partitions (withColumn folds would wall each into its
    // own Project and yield six passes)
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("q269's dim sides broadcast (customer, supplier, geo): at least " +
    "three BroadcastHashJoins and no broadcast NESTED LOOP") {
    val p = SparkEntry.queries("q269_nation_trade")(spark,
        "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin Inner"), p.take(2000))
  }
}
