package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EventStreams, VersionedState}

/** Structured Streaming over the driver's events table: the streaming
  * plans must produce the same aggregates as their batch twins
  * (q25/q26 semantics) when driven to completion on a bounded source.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val dir = "/root/testdata/sf0.001"

  /** FileStreamSource needs a directory: stage the single parquet file. */
  lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  /** Stage `df` as one parquet file `src/name.parquet`: each staged
    * file becomes one micro-batch of a stream over `src`. */
  private def stage(src: String, name: String,
                    df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = java.nio.file.Files
      .createTempDirectory(s"graft-stage-$name").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$src/$name.parquet"))
  }

  /** The latest committed version of the single-frame state at `dir`. */
  private def latest(dir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(VersionedState.latest(spark, dir))

  test("tumbling window streaming agg matches batch groupBy") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val got = EventStreams.runToMemory(
      EventStreams.tumblingCounts(stream, "1 hour"), "t_tumbling")
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy(org.apache.spark.sql.functions.date_trunc("hour",
        org.apache.spark.sql.functions.col("ts")),
        org.apache.spark.sql.functions.col("event_type"))
      .count()
    assert(got.count() == batch.count())
    val totalStream = got.agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect().head.getLong(0)
    assert(totalStream == 1000)
  }

  test("sliding window emits two windows per event") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val got = EventStreams.runToMemory(
      EventStreams.slidingCounts(stream, "1 hour", "30 minutes"), "t_sliding")
    val total = got.agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect().head.getLong(0)
    assert(total == 2000)
  }

  test("stateful sessionization emits sessions consistent with batch model") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val got = EventStreams.runToMemory(
      EventStreams.sessionize(stream, gapSeconds = 1800).toDF(), "t_sessions",
      outputMode = "append")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_s"),
        r.getAs[Long]("end_s"), r.getAs[Long]("n_events")))
    assert(got.nonEmpty)

    // batch model: same gap segmentation over collected events
    val ev = graft.sources.Tables.events(spark, dir)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("ts").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    val model = ev.flatMap { case (u, ts) =>
      ts.foldLeft(List.empty[(Long, Long, Long, Long)]) {
        case (Nil, t) => List((u, t, t, 1L))
        case ((uu, s, last, n) :: rest, t) =>
          if (t - last <= 1800) (uu, s, t, n + 1) :: rest
          else (u, t, t, 1L) :: (uu, s, last, n) :: rest
      }
    }.toSet
    // every emitted (closed) session must be exactly one model session
    got.foreach { s => assert(model.contains(s), s"session $s not in model") }
  }

  test("stream-static enrichment joins every event to its dim row") {
    val spark2 = spark
    import spark2.implicits._
    val stream = EventStreams.readEvents(spark, streamDir)
    val dim = (0L to 200L).map(u => (u, s"user_$u")).toDF("user_id", "name")
    val got = EventStreams.runToMemory(
      EventStreams.enrich(stream, dim, "user_id"), "t_enrich",
      outputMode = "append")
    assert(got.count() == 1000)
    assert(got.filter(org.apache.spark.sql.functions.col("name").isNull)
      .count() == 0)
  }

  test("foreachBatch ingestion lands partitioned parquet in the warehouse") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val base = java.nio.file.Files.createTempDirectory("graft-ingest")
      .toString
    val out = s"$base/events"
    VersionedState.ingest(stream.withColumn("event_date",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("ts"))), s"$base/ckpt") {
      (batch, _) =>
        batch.write.mode("append").partitionBy("event_date").parquet(out)
    }.awaitTermination(60000)
    val landed = spark.read.parquet(out)
    assert(landed.count() == 1000)
    // Hive-style partition dirs by event_date
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("event_date=")))
  }

  test("stream-stream interval join matches the batch self-join") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val got = EventStreams.runToMemory(
      EventStreams.recentPairs(stream, windowSeconds = 600), "t_pairs",
      outputMode = "append")
    val ev = graft.sources.Tables.events(spark, dir)
    val a = ev.select(org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("event_id").as("id_a"),
      org.apache.spark.sql.functions.col("ts").as("ts_a"))
    val b = ev.select(org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("event_id").as("id_b"),
      org.apache.spark.sql.functions.col("ts").as("ts_b"))
    val batch = a.join(b, Seq("user_id"))
      .filter(org.apache.spark.sql.functions.col("ts_b") >=
        org.apache.spark.sql.functions.col("ts_a") -
          org.apache.spark.sql.functions.expr("INTERVAL 600 SECONDS") &&
        org.apache.spark.sql.functions.col("ts_b") <
          org.apache.spark.sql.functions.col("ts_a"))
    assert(got.count() == batch.count())
    assert(got.count() > 0)
  }

  test("streaming dedup drops duplicate event_ids") {
    val stream = EventStreams.readEvents(spark, streamDir)
    val doubled = stream.union(stream)
    val got = EventStreams.runToMemory(
      EventStreams.dedupEvents(doubled), "t_dedup", outputMode = "append")
    assert(got.count() == 1000)
  }

  test("stateful sessionization on the RocksDB state store matches the " +
    "default provider (the disk-backed store that holds state at scale)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def sessions(label: String): Map[Long, Long] = {
      val stream = EventStreams.readEvents(spark, streamDir)
      EventStreams.runToMemory(
        EventStreams.sessionize(stream).toDF(), s"t_store_$label",
        outputMode = "append")
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val default = sessions("hdfs")
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks = sessions("rocksdb")
      assert(rocks == default)
      assert(rocks.nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("sessionize state stays bounded by ACTIVE users across watermark " +
    "advances (RocksDB + changelog checkpointing): expired sessions are " +
    "evicted, not accumulated") {
    import org.apache.spark.sql.functions._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    EventStreams.configureStateStore(spark)
    try {
      // four micro-batches, 10h apart, mostly-disjoint users: with a 1h
      // watermark and 30min session gap, each batch's watermark advance
      // must evict the batch-before-last's sessions
      val d = java.nio.file.Files.createTempDirectory("graft-state-pin")
      val base = java.time.Instant.parse("2026-03-01T00:00:00Z")
        .getEpochSecond
      def stage(idx: Int, users: Range, hour: Long): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("graft-sp-w")
        val rows = users.map { u =>
          (u.toLong * 1000 + idx, (base + hour * 3600 + u) * 1000000000L,
            u.toLong, "click", 1.0, "{}")
        }
        import spark.implicits._
        rows.toDF("event_id", "ts", "user_id", "event_type", "value",
          "props").coalesce(1).write.parquet(s"$tmp/out")
        val part = new java.io.File(s"$tmp/out").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(d.toFile, f"batch$idx%02d.parquet")
        java.nio.file.Files.copy(part.toPath, dst.toPath)
        dst.setLastModified(1000000L + idx * 10000L) // deterministic order
      }
      stage(1, 1 to 40, hour = 0)
      stage(2, 41 to 80, hour = 10)
      stage(3, 81 to 120, hour = 20)
      stage(4, 1 to 2, hour = 30)

      val stream = spark.readStream.schema(EventStreams.rawSchema)
        .option("maxFilesPerTrigger", 1).parquet(d.toString)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      val q = EventStreams.sessionize(stream, gapSeconds = 1800).toDF()
        .writeStream.format("memory").queryName("t_state_pin")
        .outputMode("append").start()
      q.processAllAvailable()
      val stateRows = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty)
        .map(p => p.stateOperators.head.numRowsTotal)
      q.stop()

      // 122 distinct (user, batch) sessions entered the operator; state
      // peaked at two batches' worth and ended at most one batch + the
      // final two-user batch — growth is bounded by ACTIVE users
      assert(stateRows.max <= 80, stateRows)
      assert(stateRows.last <= 42, stateRows)
      // the evicted sessions were EMITTED (timeout path), not dropped:
      // every user from batches 1-3 has a closed session
      val emitted = spark.table("t_state_pin")
        .select("user_id").distinct().count()
      assert(emitted == 120L, s"emitted=$emitted")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      spark.conf.unset(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    }
  }

  test("exactly-once ingestion: batch replay overwrites its own " +
    "partition instead of appending duplicates; restart with the same " +
    "checkpoint reprocesses nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-eo").toString
    val out = s"$base/events"
    val ckpt = s"$base/ckpt"

    val stream = EventStreams.readEvents(spark, streamDir)
    VersionedState.ingest(stream, ckpt)(
      EventStreams.idempotentBatchWrite(_, _, out))
      .awaitTermination(60000)
    val afterFirst = spark.read.option("basePath", out).parquet(out)
    assert(afterFirst.count() == 1000)

    // simulate the crash-between-write-and-commit replay: re-run an
    // already-written batch id by hand — the partition is overwritten,
    // not appended
    val batchTwin = graft.sources.Tables.events(spark, dir)
    EventStreams.idempotentBatchWrite(batchTwin, batchId = 0, out)
    EventStreams.idempotentBatchWrite(batchTwin, batchId = 0, out)
    spark.catalog.refreshByPath(out)
    val afterReplay = spark.read.option("basePath", out).parquet(out)
    assert(afterReplay.count() == 1000, "replayed batch duplicated rows")

    // restart against the SAME checkpoint: the source has no new files,
    // so nothing is reprocessed and the output is unchanged
    VersionedState.ingest(EventStreams.readEvents(spark, streamDir), ckpt)(
      EventStreams.idempotentBatchWrite(_, _, out))
      .awaitTermination(60000)
    spark.catalog.refreshByPath(out)
    assert(spark.read.option("basePath", out).parquet(out).count() == 1000)

    // content equality with the batch source (exactly-once, not just
    // same-count)
    val got = spark.read.option("basePath", out).parquet(out)
      .select("event_id", "user_id", "event_type")
      .collect().map(_.toSeq).sortBy(_.toString)
    val want = batchTwin.select("event_id", "user_id", "event_type")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.sameElements(want))
  }

  test("streaming ANN ingestion: the first micro-batch bootstraps the " +
    "quantizer, later batches assign against it; assignments equal the " +
    "one-shot standing-table assignment; replay and restart add nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sann").toString
    val src = s"$base/src"
    val index = s"$base/index"
    val out = s"$base/cells"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()

    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    // wave 0 must contain the FULL seed set (all vec_id < k): the
    // bootstrap gate fails fast on a short quantizer, and the batch
    // twin must train the same one — so waves split on (vec_id div 4)
    // to keep ids 0..3 together in wave 0
    def waveOf = pmod(expr("vec_id div 4"), lit(3))
    def stageWave(i: Int): Unit =
      stage(src, s"wave$i", vecs.filter(waveOf === i))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(vecs.schema).parquet(src), ckpt)(
        graft.streaming.EmbeddingStreams.assignBatch(_, _, index, out,
          k = 4, lloydIters = 1))
        .awaitTermination(120000)
    def cells(): Map[Long, Long] = {
      spark.catalog.refreshByPath(out)
      spark.read.parquet(out).select("vec_id", "cell")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    stageWave(0)
    runOnce()
    val c0 = cells()
    assert(c0.nonEmpty && c0.keySet.forall(id => (id / 4) % 3 == 0))

    stageWave(1); stageWave(2)
    runOnce()
    val all = cells()
    assert(all.size == vecs.count())
    // wave-0 assignments were not retrained away
    assert(c0.forall { case (id, cell) => all(id) == cell })

    // one-shot twin: train on wave 0 (the bootstrap batch), assign all
    val wave0 = vecs.filter(waveOf === 0)
    val cents = graft.functions.Similarity.centroids(wave0, 4, 1)
    val want = graft.functions.Similarity.incrementalAssign(cents, vecs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all == want)

    // restart with no new files: nothing replays
    runOnce()
    assert(cells() == all)

    // crash-replay of the bootstrap batch by hand: deterministic
    // retraining + overwrite converge to the same assignments
    graft.streaming.EmbeddingStreams.assignBatch(
      wave0.toDF(), batchId = 0, index, out, k = 4, lloydIters = 1)
    assert(cells() == all, "replayed bootstrap changed assignments")
  }

  test("streaming ANN bootstrap hardening: an uncommitted centroid dir " +
    "retrains instead of reading a partial quantizer; a short bootstrap " +
    "batch fails fast") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sann-boot").toString
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val wave0 = vecs.filter(col("vec_id") < 40) // carries seeds 0..3

    // a crash mid-write leaves the directory without the committer's
    // _SUCCESS marker — the bootstrap gate must retrain, not read it
    val index = s"$base/index"
    new java.io.File(s"$index/centroids").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$index/centroids/part-00000.parquet"),
      Array[Byte](0x50, 0x41, 0x52)) // truncated junk, no _SUCCESS
    graft.streaming.EmbeddingStreams.assignBatch(
      wave0.toDF(), batchId = 0, index, s"$base/cells", k = 4,
      lloydIters = 1)
    assert(new java.io.File(s"$index/centroids/_SUCCESS").exists())
    spark.catalog.refreshByPath(s"$index/centroids")
    assert(spark.read.parquet(s"$index/centroids").count() == 4)
    assert(spark.read.parquet(s"$base/cells").count() == wave0.count())

    // a bootstrap batch with fewer than k vectors trains a short
    // quantizer — fail fast rather than silently assigning against it
    val short2 = vecs.filter(col("vec_id") < 2)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.EmbeddingStreams.assignBatch(
        short2.toDF(), batchId = 0, s"$base/index2", s"$base/cells2",
        k = 4, lloydIters = 1)
    }
    assert(e.getMessage.contains("expected 4"))
  }

  test("streaming near-dup ingestion: each micro-batch probes then grows " +
    "the standing index; the accumulated pairs equal a one-shot " +
    "corpus-wide LSH; replay and restart add nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-snd").toString
    val src = s"$base/src"
    val index = s"$base/index"
    val out = s"$base/pairs"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    // three arrival waves; each staged file becomes one micro-batch
    def stageWave(i: Int): Unit =
      stage(src, s"wave$i", docs.filter(col("doc_id") % 3 === i))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(docs.schema).parquet(src), ckpt)(
        graft.streaming.DocumentStreams.nearDupBatch(_, _, index, out,
          "doc_id", "text", 3, 4, 4, 2000))
        .awaitTermination(120000)
    def countIf(path: String): Long = {
      spark.catalog.refreshByPath(path)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) spark.read.parquet(path).count() else 0L
    }

    stageWave(0)
    runOnce()
    val bands0 = countIf(s"$index/bands")
    assert(bands0 > 0, "wave 0 contributed no index rows")

    stageWave(1)
    runOnce()
    val bands1 = countIf(s"$index/bands")
    assert(bands1 > bands0, "index did not grow on wave 1")

    stageWave(2)
    runOnce()
    val bands2 = countIf(s"$index/bands")
    assert(bands2 > bands1, "index did not grow on wave 2")

    def pairSet(): Set[(Long, Long, Long)] = {
      spark.catalog.refreshByPath(out)
      spark.read.parquet(out)
        .select("new_id", "dup_id", "jaccard_bp").collect()
        .map { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          (math.min(a, b), math.max(a, b), r.getLong(2))
        }.toSet
    }
    val streamed = pairSet()
    // the incremental accumulation must discover exactly the pairs a
    // one-shot LSH over the whole corpus finds (every pair coexists once
    // its later wave arrives), with identical exact-Jaccard scores
    val oneShot = graft.functions.Dedup.nearDuplicatesPortable(
      docs, "doc_id", "text", shingleN = 3, bands = 4, rowsPerBand = 4,
      minJaccardBp = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == oneShot,
      s"streamed ${streamed.size} vs one-shot ${oneShot.size}; " +
        s"missing=${(oneShot -- streamed).take(3)} " +
        s"extra=${(streamed -- oneShot).take(3)}")

    // restart with the same checkpoint and no new files: nothing replays
    runOnce()
    assert(pairSet() == streamed)
    assert(countIf(s"$index/bands") == bands2)

    // crash-replay of the LAST batch (index rows already written when
    // the attempt died): rerunning the batch by hand converges — the
    // own-id anti-join hides its index rows, the overwrite re-lands the
    // same bytes
    graft.streaming.DocumentStreams.nearDupBatch(
      docs.filter(col("doc_id") % 3 === 2), batchId = 2, index, out,
      "doc_id", "text", 3, 4, 4, 2000)
    assert(pairSet() == streamed, "replayed batch changed the pair set")
    assert(countIf(s"$index/bands") == bands2,
      "replayed batch duplicated index rows")
  }

  test("streaming curation: id-ordered waves accumulate exactly the " +
    "one-shot keep-first policy (quality ∧ clean ∧ no earlier " +
    "near-dup); replay and restart add nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-scur").toString
    val src = s"$base/src"
    new java.io.File(src).mkdirs()
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    val eval = docs.filter(col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(corpus.schema).parquet(src),
        s"$base/ckpt")(
        graft.streaming.DocumentStreams.curateBatch(_, _, eval,
          s"$base/index", s"$base/pairs", s"$base/curated",
          minJaccardBp = 2000))
        .awaitTermination(180000)
    def curated(): Set[Long] = {
      spark.catalog.refreshByPath(s"$base/curated")
      spark.read.parquet(s"$base/curated")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }

    // waves split by id RANGE: arrival order = id order, which is what
    // makes streamed keep-first equal the one-shot lower-id-wins policy
    val w0 = corpus.filter(col("doc_id") < 150)
    val w12 = corpus.filter(col("doc_id") >= 150)
    stage(src, "w0", w0)
    runOnce()
    stage(src, "w1", corpus.filter(col("doc_id") >= 150
      && col("doc_id") < 300))
    stage(src, "w2", corpus.filter(col("doc_id") >= 300))
    runOnce()

    // one-shot twin of the policy over the full corpus
    val kept = graft.functions.TextAnalysis.qualityVerdict(corpus)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val clean = graft.functions.Dedup.contamination(corpus, eval)
      .filter(col("n_contaminated") === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dupDropped = graft.functions.Dedup.nearDuplicatesPortable(
        corpus, "doc_id", "text", shingleN = 3, bands = 4,
        rowsPerBand = 4, minJaccardBp = 2000)
      .select("id_b").collect().map(_.getLong(0)).toSet
    val want = kept.intersect(clean) -- dupDropped
    val got = curated()
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(got.nonEmpty && dupDropped.nonEmpty)

    // restart with no new files: nothing replays
    runOnce()
    assert(curated() == want)

    // crash-replay of the final batch by hand: same bytes land
    graft.streaming.DocumentStreams.curateBatch(w12.toDF(), batchId = 1,
      eval, s"$base/index", s"$base/pairs", s"$base/curated",
      minJaccardBp = 2000)
    assert(curated() == want)
  }

  test("streaming SCD2 upsert: time-ordered waves fold into the " +
    "standing dimension; final version ≡ the full-history build; " +
    "replay and restart add nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sscd").toString
    val src = s"$base/src"
    val dim = s"$base/dim"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val orders = graft.sources.Tables.load(spark, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")
    val cut1 = lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
    val cut2 = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(orders.schema).parquet(src), ckpt)(
        graft.streaming.DimensionStreams.upsertBatch(_, _, dim))
        .awaitTermination(120000)
    def dimRows(): Set[Seq[Any]] = {
      spark.catalog.refreshByPath(dim)
      latest(dim).collect().map(_.toSeq).toSet
    }

    // three strictly time-ordered waves (the applyBatch contract)
    stage(src, "w0", orders.filter(col("o_orderdate") < cut1))
    runOnce()
    stage(src, "w1", orders.filter(col("o_orderdate") >= cut1
      && col("o_orderdate") < cut2))
    runOnce()
    stage(src, "w2", orders.filter(col("o_orderdate") >= cut2))
    runOnce()

    val got = dimRows()
    val want = graft.operators.Scd.build(orders)
      .collect().map(_.toSeq).toSet
    assert(got == want)

    // restart with no new files: nothing replays, dimension unchanged
    runOnce()
    assert(dimRows() == want)

    // crash-replay of the final batch by hand: it reads v=1 (the state
    // its first attempt saw), never its own v=2, and rewrites the same
    // bytes
    graft.streaming.DimensionStreams.upsertBatch(
      orders.filter(col("o_orderdate") >= cut2), batchId = 2, dim)
    assert(dimRows() == want)
  }

  test("streaming inverted-index maintenance: waves fold into the " +
    "standing index; final version ≡ the one-shot rebuild; replay " +
    "and restart add nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sindex").toString
    val src = s"$base/src"
    val ix = s"$base/ix"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(docs.schema).parquet(src), ckpt)(
        graft.streaming.IndexStreams.indexBatch(_, _, ix,
          maxPostings = 16))
        .awaitTermination(120000)
    def ixRows(): Set[Seq[Any]] = {
      spark.catalog.refreshByPath(ix)
      latest(ix).collect().map(_.toSeq).toSet
    }

    // three waves partitioning the corpus by id (each doc arrives once)
    stage(src, "w0", docs.filter(col("doc_id") % 3 === 0))
    runOnce()
    stage(src, "w1", docs.filter(col("doc_id") % 3 === 1))
    runOnce()
    stage(src, "w2", docs.filter(col("doc_id") % 3 === 2))
    runOnce()

    val want = graft.functions.Retrieval
      .invertedIndexArr(docs, maxPostings = 16)
      .collect().map(_.toSeq).toSet
    assert(ixRows() == want)

    // restart with no new files: nothing replays, index unchanged
    runOnce()
    assert(ixRows() == want)

    // crash-replay of the final batch by hand: it reads v=1, never its
    // own v=2, and rewrites the same bytes
    graft.streaming.IndexStreams.indexBatch(
      docs.filter(col("doc_id") % 3 === 2), batchId = 2, ix,
      maxPostings = 16)
    assert(ixRows() == want)
  }

  test("streaming heavy-hitter maintenance: waves fold into the " +
    "standing MG state; under capacity the final version ≡ exact " +
    "counts; replay adds nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-shh").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val ev = graft.sources.Tables.events(spark, dir)
      .withColumn("day", date_trunc("day", col("ts")))
      .select("day", "event_type", "event_id")
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(ev.schema).parquet(src), ckpt)(
        graft.streaming.SketchStreams.hhBatch(_, _, st,
          k = 16, groupCol = "day", itemCol = "event_type"))
        .awaitTermination(120000)
    def stateRows(): Set[(java.sql.Timestamp, String, Long)] = {
      spark.catalog.refreshByPath(st)
      latest(st).collect().map(r => (r.getTimestamp(0), r.getString(1),
          r.getLong(2))).toSet
    }

    stage(src, "w0", ev.filter(col("event_id") % 3 === 0))
    runOnce()
    stage(src, "w1", ev.filter(col("event_id") % 3 === 1))
    runOnce()
    stage(src, "w2", ev.filter(col("event_id") % 3 === 2))
    runOnce()

    val want = ev.groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1),
        r.getLong(2))).toSet
    assert(stateRows() == want)

    runOnce() // restart, no new files
    assert(stateRows() == want)
    graft.streaming.SketchStreams.hhBatch( // hand-replayed crash
      ev.filter(col("event_id") % 3 === 2), batchId = 2, st,
      k = 16, groupCol = "day", itemCol = "event_type")
    assert(stateRows() == want)
  }

  test("streaming degree maintenance: edge waves fold into the standing " +
    "degree table; final version ≡ one-shot degrees; replay adds " +
    "nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sdeg").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val edges = graft.sources.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("id_a"),
        (col("l_partkey").cast("long") + 1000000000L).as("id_b"))
      .distinct()
    val wave = pmod(col("id_a") * 31 + col("id_b"), lit(3))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(edges.schema).parquet(src), ckpt)(
        graft.streaming.GraphStreams.degreeBatch(_, _, st))
        .awaitTermination(120000)
    def stateRows(): Set[(Long, Long)] = {
      spark.catalog.refreshByPath(st)
      latest(st).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    // three waves partitioning the distinct edge set (each edge once)
    stage(src, "w0", edges.filter(wave === 0))
    runOnce()
    stage(src, "w1", edges.filter(wave === 1))
    runOnce()
    stage(src, "w2", edges.filter(wave === 2))
    runOnce()

    val want = graft.functions.Graph.degrees(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stateRows() == want)

    runOnce() // restart, no new files
    assert(stateRows() == want)
    graft.streaming.GraphStreams.degreeBatch( // hand-replayed crash
      edges.filter(wave === 2), batchId = 2, st)
    assert(stateRows() == want)
  }

  test("streaming Count-Min: waves fold by exact cell addition; every " +
    "final estimate equals the one-shot sketch's; replay adds nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-scm").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val ev = graft.sources.Tables.events(spark, dir)
      .select("event_id", "event_type")
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(ev.schema).parquet(src), ckpt)(
        graft.streaming.SketchStreams.cmBatch(_, _, st,
          "event_type", width = 64, depth = 3))
        .awaitTermination(120000)

    stage(src, "w0", ev.filter(col("event_id") % 3 === 0))
    runOnce()
    stage(src, "w1", ev.filter(col("event_id") % 3 === 1))
    runOnce()
    stage(src, "w2", ev.filter(col("event_id") % 3 === 2))
    runOnce()

    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    spark.catalog.refreshByPath(st)
    assert(cells(latest(st)) ==
      cells(graft.functions.Sketches.countMin(ev, "event_type", 64, 3)))

    runOnce() // restart, no new files
    graft.streaming.SketchStreams.cmBatch( // hand-replayed crash
      ev.filter(col("event_id") % 3 === 2), batchId = 2, st,
      "event_type", width = 64, depth = 3)
    spark.catalog.refreshByPath(st)
    assert(cells(latest(st)) ==
      cells(graft.functions.Sketches.countMin(ev, "event_type", 64, 3)))
  }

  test("streaming HyperLogLog: register waves fold by elementwise max; " +
    "the landed estimate equals the one-shot sketch's; replay — even a " +
    "DOUBLED wave — adds nothing (max is idempotent)") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-shll").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val ev = graft.sources.Tables.events(spark, dir)
      .select("event_id", "event_type", "user_id")
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(ev.schema).parquet(src), ckpt)(
        graft.streaming.SketchStreams.hllBatch(_, _, st,
          "event_type", "user_id", p = 9))
        .awaitTermination(120000)

    stage(src, "w0", ev.filter(col("event_id") % 3 === 0))
    runOnce()
    // wave 1 deliberately OVERLAPS wave 0 (ids % 3 in {0, 1}): the
    // register fold must tolerate re-seen values, the property that
    // separates HLL state from Count-Min's add-only cells
    stage(src, "w1", ev.filter(col("event_id") % 3 <= 1))
    runOnce()
    stage(src, "w2", ev.filter(col("event_id") % 3 === 2))
    runOnce()

    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    spark.catalog.refreshByPath(st)
    val landed = latest(st)
    val oneShot = graft.functions.Sketches
      .hllRegisters(ev, "event_type", "user_id")
    assert(regs(landed) == regs(oneShot))
    // estimates answered from the LANDED state match one-shot exactly
    def est(df: org.apache.spark.sql.DataFrame) =
      graft.functions.Sketches.hllEstimate(df, "event_type")
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(est(landed) == est(oneShot))

    runOnce() // restart, no new files: nothing changes
    spark.catalog.refreshByPath(st)
    assert(regs(latest(st)) == regs(oneShot))
  }

  test("streaming ExactSubstr: append-only doc waves fold the window-" +
    "owner index; accumulated landed spans equal the one-shot span " +
    "table; restart adds nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-ssub").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(docs.schema).parquet(src), ckpt)(
        graft.streaming.IndexStreams.substrBatch(_, _, st,
          windowWords = 5))
        .awaitTermination(120000)

    // append-only id contract: waves ascend
    stage(src, "w0", docs.filter(col("doc_id") < 167))
    runOnce()
    stage(src, "w1",
      docs.filter(col("doc_id") >= 167 && col("doc_id") < 334))
    runOnce()
    stage(src, "w2", docs.filter(col("doc_id") >= 334))
    runOnce()

    def spanSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "s", "e").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.catalog.refreshByPath(st)
    val landed = spanSet(
      graft.streaming.IndexStreams.substrSpans(spark, st))
    val oneShot = spanSet(
      graft.functions.Dedup.exactSubstrSpans(docs, 5))
    assert(landed == oneShot && oneShot.nonEmpty)

    runOnce() // restart with no new files
    spark.catalog.refreshByPath(st)
    assert(spanSet(graft.streaming.IndexStreams.substrSpans(spark, st))
      == oneShot)
  }

  test("streaming entity resolution: name waves fold batch-only " +
    "candidates into the standing components; the landed entity table " +
    "equals the one-shot closure over everything streamed") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sent").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val names = graft.sources.Tables.load(spark, dir, "part")
      .groupBy(col("p_name")).agg(min(col("p_partkey")).as("pid"))
      .select(col("pid"), col("p_name"))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(names.schema).parquet(src), ckpt)(
        graft.streaming.IndexStreams.entityBatch(_, _, st,
          "pid", "p_name", maxDist = 2, q = 2))
        .awaitTermination(120000)

    stage(src, "w0", names.filter(col("pid") % 3 === 0))
    runOnce()
    stage(src, "w1", names.filter(col("pid") % 3 === 1))
    runOnce()
    stage(src, "w2", names.filter(col("pid") % 3 === 2))
    runOnce()

    def compSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "comp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.refreshByPath(st)
    val landed = compSet(
      graft.streaming.IndexStreams.latestEntities(spark, st))
    val oneShot = compSet(graft.functions.Dedup.connectedComponents(
      graft.functions.TextAnalysis.fuzzyPairs(names, "pid", "p_name",
        maxDist = 2, q = 2), "id_a", "id_b",
      assumeDistinctPairs = true))
    assert(landed == oneShot && oneShot.nonEmpty)
  }

  test("streaming seasonal baseline: whole-day waves fold the " +
    "(type, hour-of-day) sufficient statistics additively; landed " +
    "baselines equal the one-shot q201 computation") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sseas").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val ev = graft.sources.Tables.events(spark, dir)
      .select("event_id", "event_type", "ts")
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(ev.schema).parquet(src), ckpt)(
        graft.streaming.MonitorStreams.seasonalBatch(_, _, st))
        .awaitTermination(120000)

    // whole-day waves respect the whole-hour batch contract
    stage(src, "w0", ev.filter(dayofmonth(col("ts")) <= 10))
    runOnce()
    stage(src, "w1", ev.filter(
      dayofmonth(col("ts")) > 10 && dayofmonth(col("ts")) <= 20))
    runOnce()
    stage(src, "w2", ev.filter(dayofmonth(col("ts")) > 20))
    runOnce()

    spark.catalog.refreshByPath(st)
    val landed = graft.streaming.MonitorStreams
      .seasonalBaselines(spark, st)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val oneShot = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"), hour(col("hr")).cast("long").as("h24"))
      .agg(expr("sum(c) * 1000 div count(1)").as("bl"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(landed == oneShot && oneShot.nonEmpty)
  }

  test("streaming drift monitoring: histogram waves fold into the " +
    "standing state; PSI vs a landed reference ≡ the batch psiDrift " +
    "over the full stream; replay adds nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-smon").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val ev = graft.sources.Tables.events(spark, dir)
      .select("event_id", "value")
    val refDf = ev.filter(col("event_id") % 2 === 0)
    val streamed = ev.filter(col("event_id") % 2 === 1)
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(streamed.schema).parquet(src), ckpt)(
        graft.streaming.MonitorStreams.binBatch(_, _, st,
          "value", binWidth = 25.0))
        .awaitTermination(120000)

    stage(src, "w0", streamed.filter(col("event_id") % 3 === 0))
    runOnce()
    stage(src, "w1", streamed.filter(col("event_id") % 3 === 1))
    runOnce()
    stage(src, "w2", streamed.filter(col("event_id") % 3 === 2))
    runOnce()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bin").collect().map(_.toSeq).toSeq
    spark.catalog.refreshByPath(st)
    val landed = latest(st)
    assert(rows(landed) ==
      rows(graft.functions.Sketches.binCounts(streamed, "value", 25.0)))
    val viaStates = rows(graft.functions.Sketches.psiFromBins(
      graft.functions.Sketches.binCounts(refDf, "value", 25.0), landed))
    val batch = rows(graft.functions.Sketches.psiDrift(
      refDf, streamed, "value", 25.0))
    assert(viaStates == batch)
    // drift between the halves is nonzero but every contrib is defined
    assert(batch.nonEmpty)

    runOnce() // restart, no new files
    graft.streaming.MonitorStreams.binBatch( // hand-replayed crash
      streamed.filter(col("event_id") % 3 === 2), batchId = 2, st,
      "value", binWidth = 25.0)
    spark.catalog.refreshByPath(st)
    assert(rows(latest(st)) ==
      rows(graft.functions.Sketches.binCounts(streamed, "value", 25.0)))
  }

  test("streaming z-order layout monitor: fixed-grid waves fold into " +
    "the standing report ≡ the one-shot stats over the full stream; " +
    "replay adds nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-szorder").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val (bb, xMn, xMx, yMn, yMx) = (6, 0L, 1L << 16, 0L, 1L << 13)
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(li.schema).parquet(src), ckpt)(
        graft.streaming.MonitorStreams.zorderBatch(_, _, st,
          "l_partkey", "l_suppkey", bb, xMn, xMx, yMn, yMx))
        .awaitTermination(120000)
    (0 until 3).foreach { w =>
      stage(src, s"w$w", li.filter(col("l_orderkey") % 3 === w))
      runOnce()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().map(_.toSeq).toSeq
    spark.catalog.refreshByPath(st)
    val oneShot = rows(graft.functions.Layout.zOrderBucketStatsFixed(
      li, "l_partkey", "l_suppkey", bb, xMn, xMx, yMn, yMx))
    assert(rows(latest(st)) == oneShot)
    graft.streaming.MonitorStreams.zorderBatch( // hand-replayed crash
      li.filter(col("l_orderkey") % 3 === 2), batchId = 2, st,
      "l_partkey", "l_suppkey", bb, xMn, xMx, yMn, yMx)
    spark.catalog.refreshByPath(st)
    assert(rows(latest(st)) == oneShot)
  }

  test("round-trip: streaming ingestion feeds the batch query surface " +
    "with identical aggregates") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.readEvents(spark, streamDir)
    val base = java.nio.file.Files.createTempDirectory("graft-roundtrip")
      .toString
    val warehouse = s"$base/events"
    VersionedState.ingest(stream.withColumn("event_date",
        to_date(col("ts"))), s"$base/ckpt") { (batch, _) =>
      batch.write.mode("append").partitionBy("event_date")
        .parquet(warehouse)
    }.awaitTermination(60000)

    def hourly(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
      .toMap

    val viaWarehouse = hourly(spark.read.parquet(warehouse))
    val direct = hourly(graft.sources.Tables.events(spark, dir))
    assert(viaWarehouse == direct)
  }

  test("streaming HNSW maintenance: id-ascending waves fold into the " +
    "standing graph; every committed version == a one-shot build; " +
    "search runs off the landed state") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-shnsw").toString
    val src = s"$base/src"; new java.io.File(src).mkdirs()
    val state = s"$base/hnsw"; val ckpt = s"$base/ckpt"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val maxId = vecs.agg(max("vec_id")).head.getLong(0)
    // waves split on CONTIGUOUS id ranges — the append-only ingestion
    // discipline the incremental insert contract requires
    val cuts = Seq(0L, maxId / 3, 2 * maxId / 3, maxId + 1)
    def wave(i: Int) = vecs.filter(col("vec_id") >= cuts(i) &&
      col("vec_id") < cuts(i + 1))
    def stageWave(i: Int): Unit =
      stage(src, s"wave$i", wave(i))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(vecs.schema).parquet(src), ckpt)(
        graft.streaming.EmbeddingStreams.hnswBatch(_, _, state,
          nShards = 2, m = 6, efConstruction = 32))
        .awaitTermination(120000)
    def landedRows() = {
      spark.catalog.refreshByPath(state)
      graft.streaming.EmbeddingStreams.latestHnswIndex(spark, state)
        .collect().sortBy(_.vec_id)
        .map(n => (n.shard, n.vec_id, n.level, n.embedding.toSeq,
          n.nbrs.map(_.toSeq).toSeq)).toSeq
    }
    def oneShotRows(corpus: org.apache.spark.sql.DataFrame) =
      graft.functions.Hnsw.buildIndex(corpus, nShards = 2, m = 6,
          efConstruction = 32)
        .collect().sortBy(_.vec_id)
        .map(n => (n.shard, n.vec_id, n.level, n.embedding.toSeq,
          n.nbrs.map(_.toSeq).toSeq)).toSeq

    stageWave(0)
    runOnce()
    assert(landedRows() == oneShotRows(wave(0)),
      "bootstrap version != one-shot build over wave 0")

    stageWave(1); stageWave(2)
    runOnce()
    assert(landedRows() == oneShotRows(vecs),
      "folded index != one-shot build over everything streamed")

    // search runs off the LANDED state in the exact regime == brute force
    val queries = vecs.filter(col("vec_id") < 5)
    val got = graft.functions.Hnsw.searchIndex(
        graft.streaming.EmbeddingStreams.latestHnswIndex(spark, state),
        queries, k = 10, efSearch = 4096)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank").collect().toSeq
    val want = graft.functions.Similarity.bruteForceTopK(vecs, queries, 10)
      .select("query_id", "vec_id", "sim", "rank")
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == want)

    // restart with no new files: nothing replays
    val before = landedRows()
    runOnce()
    assert(landedRows() == before)

    // crash-replay of the fold batch by hand: reads committed v=0,
    // rewrites the same v=1 rows (deterministic resume)
    graft.streaming.EmbeddingStreams.hnswBatch(
      wave(1).unionByName(wave(2)).toDF(), batchId = 1, state,
      nShards = 2, m = 6, efConstruction = 32)
    assert(landedRows() == before, "replayed fold changed the index")
  }

  test("streaming PQ encoding: the first micro-batch bootstraps the " +
    "codebook; every landed slice equals the one-shot encode against " +
    "it; replay converges") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-spq").toString
    val src = s"$base/src"; new java.io.File(src).mkdirs()
    val index = s"$base/index"; val out = s"$base/codes"
    val ckpt = s"$base/ckpt"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    // wave 0 must carry the full seed set (vec_id < 16) for the
    // deterministic bootstrap — split on (vec_id div 16) % 3
    def waveOf = pmod(expr("vec_id div 16"), lit(3))
    def stageWave(i: Int): Unit =
      stage(src, s"wave$i", vecs.filter(waveOf === i))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(vecs.schema).parquet(src), ckpt)(
        graft.streaming.EmbeddingStreams.pqEncodeBatch(_, _, index, out,
          nsub = 8, k = 16, dsub = 8))
        .awaitTermination(120000)
    def landed(): Set[Seq[Any]] = {
      spark.catalog.refreshByPath(out)
      spark.read.parquet(out).select("vec_id", "m", "code")
        .collect().map(_.toSeq).toSet
    }

    stageWave(0)
    runOnce()
    val cb = spark.read.parquet(s"$index/pq_codebook")
    val wave0 = vecs.filter(waveOf === 0)
    assert(landed() == graft.functions.Pq.encode(wave0, cb, 8, 8)
      .collect().map(_.toSeq).toSet)

    stageWave(1); stageWave(2)
    runOnce()
    val want = graft.functions.Pq.encode(vecs, cb, 8, 8)
      .collect().map(_.toSeq).toSet
    assert(landed() == want,
      "landed codes != one-shot encode against the standing codebook")

    // restart with no new files, then hand-replay a batch: both no-ops
    runOnce()
    assert(landed() == want)
    graft.streaming.EmbeddingStreams.pqEncodeBatch(
      wave0.toDF(), batchId = 0, index, out, 8, 16, 8)
    assert(landed() == want, "replayed batch changed the codes")
  }

  test("streaming BPE word-table maintenance: waves fold word counts; " +
    "retraining from any committed version == one-shot training over " +
    "everything streamed") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-sbpe").toString
    val src = s"$base/src"; new java.io.File(src).mkdirs()
    val state = s"$base/words"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    def wave(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    def stageWave(i: Int): Unit =
      stage(src, s"wave$i", wave(i))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(docs.schema).parquet(src), ckpt)(
        graft.streaming.IndexStreams.bpeBatch(_, _, state))
        .awaitTermination(120000)
    def landedMerges() = {
      spark.catalog.refreshByPath(state)
      graft.functions.Bpe.trainFromWords(latest(state), rounds = 5)
        ._2.orderBy("round").collect().map(_.toSeq).toSeq
    }

    stageWave(0)
    runOnce()
    assert(landedMerges() ==
      graft.functions.Bpe.merges(wave(0), rounds = 5)
        .collect().map(_.toSeq).toSeq,
      "bootstrap version != one-shot training over wave 0")

    stageWave(1); stageWave(2)
    runOnce()
    val want = graft.functions.Bpe.merges(docs, rounds = 5)
      .collect().map(_.toSeq).toSeq
    assert(landedMerges() == want,
      "folded word table != one-shot training over everything streamed")

    // restart with no new files: nothing replays
    runOnce()
    assert(landedMerges() == want)

    // crash-replay of the fold batch by hand: reads committed v=0,
    // rewrites the same v=1 table (count addition is deterministic)
    graft.streaming.IndexStreams.bpeBatch(
      wave(1).unionByName(wave(2)).toDF(), batchId = 1, state)
    assert(landedMerges() == want, "replayed fold changed the table")
  }

  test("streaming quality monitor: folded counts == one-shot census; " +
    "rates derive from the landed row; replay adds nothing") {
    import org.apache.spark.sql.functions._
    import graft.functions.{Pii, TextAnalysis}
    val base = java.nio.file.Files
      .createTempDirectory("graft-squal").toString
    val src = s"$base/src"; new java.io.File(src).mkdirs()
    val state = s"$base/stats"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    def wave(i: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === i)
    def stageWave(i: Int): Unit =
      stage(src, s"wave$i", wave(i))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(docs.schema).parquet(src), ckpt)(
        graft.streaming.MonitorStreams.qualityBatch(_, _, state))
        .awaitTermination(120000)
    def landed() = {
      spark.catalog.refreshByPath(state)
      graft.streaming.MonitorStreams.qualityReport(spark, state)
        .collect().head
    }
    stageWave(0)
    runOnce() // batch 0: wave 0 only
    stageWave(1)
    runOnce() // batch 1: wave 1 folds in
    val r = landed()
    // one-shot census over everything streamed
    val g = TextAnalysis.gopherGate(docs)
      .agg(count(lit(1)), sum(col("gopher_pass").cast("long")),
        sum(col("n_words")))
      .collect().head
    val nPii = Pii.scan(docs).filter(col("has_pii")).count()
    assert(r.getLong(0) == g.getLong(0))
    assert(r.getLong(1) == g.getLong(1))
    assert(r.getLong(2) == g.getLong(2))
    assert(r.getLong(3) == nPii)
    assert(r.getLong(4) ==
      math.floor(g.getLong(1) * 10000.0 / g.getLong(0)).toLong)
    // hand-replay of the last fold batch: reads v=0, rewrites v=1
    graft.streaming.MonitorStreams.qualityBatch(wave(1).toDF(),
      batchId = 1, state)
    assert(landed().toSeq == r.toSeq, "replayed fold changed the stats")
  }

  test("streaming NB counts: classifying from any committed version == " +
    "classifying from one-shot training over everything streamed") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-snb").toString
    val src = s"$base/src"; new java.io.File(src).mkdirs()
    val state = s"$base/counts"; val ckpt = s"$base/ckpt"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 17 =!= 0)
      .select("doc_id", "lang", "text")
    val ho = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 17 === 0)
      .select("doc_id", "text")
    def wave(i: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === i)
    def stageWave(i: Int): Unit =
      stage(src, s"wave$i", wave(i))
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(docs.schema).parquet(src), ckpt)(
        graft.streaming.IndexStreams.nbBatch(_, _, state))
        .awaitTermination(120000)
    import graft.functions.NaiveBayes
    def predictFromLanded(train: org.apache.spark.sql.DataFrame) = {
      spark.catalog.refreshByPath(state)
      val c = latest(state)
      NaiveBayes.classify(ho, NaiveBayes.model(c),
          NaiveBayes.classStats(c, train))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    }
    def oneShot(train: org.apache.spark.sql.DataFrame) = {
      val c = NaiveBayes.termCounts(train)
      NaiveBayes.classify(ho, NaiveBayes.model(c),
          NaiveBayes.classStats(c, train))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    }
    stageWave(0)
    runOnce()
    assert(predictFromLanded(wave(0)) == oneShot(wave(0)),
      "bootstrap version != one-shot training over wave 0")
    stageWave(1)
    runOnce()
    val want = oneShot(docs)
    assert(predictFromLanded(docs) == want,
      "folded counts != one-shot training over everything streamed")
    // crash-replay: deterministic re-fold of batch 1 rewrites v=1
    graft.streaming.IndexStreams.nbBatch(wave(1).toDF(), batchId = 1,
      state)
    assert(predictFromLanded(docs) == want,
      "replayed fold changed the classifier")
  }

  test("streaming co-occurrence maintenance: waves fold into the " +
    "standing (membership, pair-count) state; final counts ≡ the " +
    "one-shot distinct-pair aggregate; replay adds nothing") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-scooc").toString
    val src = s"$base/src"
    val st = s"$base/state"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    val ev = graft.sources.Tables.events(spark, dir)
      .select("user_id", "event_type", "event_id")
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(ev.schema).parquet(src), ckpt)(
        graft.streaming.SketchStreams.cooccurBatch(_, _, st))
        .awaitTermination(120000)
    def landed(): Set[(String, String, Long)] = {
      spark.catalog.refreshByPath(st)
      graft.streaming.SketchStreams.latestCooccurrence(spark, st)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).toSet
    }
    // three arbitrary slices (co-occurrence folding needs no time
    // ordering — memberships are a set union)
    stage(src, "w0", ev.filter(col("event_id") % 3 === 0))
    runOnce()
    stage(src, "w1", ev.filter(col("event_id") % 3 === 1))
    runOnce()
    stage(src, "w2", ev.filter(col("event_id") % 3 === 2))
    runOnce()
    val ut = ev.select("user_id", "event_type").distinct()
    val want = ut.select(col("user_id"), col("event_type").as("ta"))
      .join(ut.select(col("user_id"), col("event_type").as("tb")),
        Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta").as("type_a"), col("tb").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2))).toSet
    assert(landed() == want)
    // restart with no new files: nothing replays
    runOnce()
    assert(landed() == want)
    // crash-replay of the final batch by hand: reads v=1, rewrites the
    // same v=2 state
    graft.streaming.SketchStreams.cooccurBatch(
      ev.filter(col("event_id") % 3 === 2), batchId = 2, st)
    assert(landed() == want)
  }

  test("streaming MERGE INTO the versioned table: each micro-batch " +
    "lands as one transactional MERGE commit; a crash-replayed batch " +
    "(same batchId) is a no-op; history stays time-travel readable") {
    import org.apache.spark.sql.functions._
    import graft.sources.VersionedTable
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-smerge").toString
    val src = s"$base/src"
    val tbl = s"$base/tbl"
    val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    def stageRows(name: String, rows: Seq[(Long, String, Long)]): Unit =
      stage(src, name, rows.toDF("k", "status", "qty"))
    val schema = Seq((0L, "", 0L)).toDF("k", "status", "qty").schema
    def runOnce(): Unit =
      VersionedState.ingest(
        spark.readStream.schema(schema).parquet(src), ckpt) {
        (batch, batchId) =>
          VersionedTable.mergeBatch(batch.sparkSession, tbl, batch,
            Seq("k"), batchId,
            deleteWhen = Some(col("status") === "DELETED")): Unit
      }.awaitTermination(120000)
    def snapshot(): Set[(Long, String, Long)] =
      VersionedTable.read(spark, tbl).as[(Long, String, Long)]
        .collect().toSet

    // wave 0: bootstrap insert
    stageRows("w0", Seq((1L, "NEW", 10L), (2L, "NEW", 20L)))
    runOnce()
    assert(snapshot() == Set((1L, "NEW", 10L), (2L, "NEW", 20L)))
    // wave 1: update k=1, delete k=2, insert k=3
    stageRows("w1", Seq((1L, "SHIPPED", 11L), (2L, "DELETED", 0L),
      (3L, "NEW", 30L)))
    runOnce()
    val want = Set((1L, "SHIPPED", 11L), (3L, "NEW", 30L))
    assert(snapshot() == want)
    // restart with no new files: nothing replays, table unchanged
    runOnce()
    assert(snapshot() == want)
    // crash-replay of batch 1 BY HAND (same batchId): no-op — no new
    // version, same snapshot, and the returned version is the original
    val versionsBefore = VersionedTable.versions(spark, tbl)
    val v = VersionedTable.mergeBatch(spark, tbl,
      Seq((1L, "SHIPPED", 11L), (2L, "DELETED", 0L), (3L, "NEW", 30L))
        .toDF("k", "status", "qty"),
      Seq("k"), batchId = 1,
      deleteWhen = Some(col("status") === "DELETED"))
    assert(VersionedTable.versions(spark, tbl) == versionsBefore,
      "replayed batch must not create a new version")
    assert(versionsBefore.contains(v))
    assert(snapshot() == want)
    // a NEW batch id still lands, and pre-merge versions time-travel
    VersionedTable.mergeBatch(spark, tbl,
      Seq((3L, "SHIPPED", 31L)).toDF("k", "status", "qty"),
      Seq("k"), batchId = 2)
    assert(snapshot() == Set((1L, "SHIPPED", 11L), (3L, "SHIPPED", 31L)))
    assert(VersionedTable.readAsOf(spark, tbl, versionsBefore.head)
      .as[(Long, String, Long)].collect().toSet ==
        Set((1L, "NEW", 10L), (2L, "NEW", 20L)))
  }

  test("the committed-version reader skips a torn version: a crash " +
    "mid-write of v=1 (only v=1/_temporary/ on disk) leaves q229's read " +
    "on v=0") {
    val st = java.nio.file.Files.createTempDirectory("graft-torn").toString
    val ev = graft.sources.Tables.events(spark, dir)
      .select("event_id", "value")
    graft.streaming.MonitorStreams.binBatch(ev, 0L, st, "value",
      binWidth = 10.0)
    new java.io.File(s"$st/v=1/_temporary/0").mkdirs()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bin").collect().map(_.toSeq).toSeq
    val committed = rows(spark.read.parquet(s"$st/v=0"))
    assert(committed.nonEmpty)
    assert(rows(latest(st)) == committed)
  }

  /** The jobs `body` runs, counted by a listener scoped to one job
    * group: broadcast and adaptive-stage jobs inherit the group. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "streamed-wave job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerDrain.waitUntilEmpty(sc, 5000)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("a streamed wave's job counts: curateBatch on a second wave and " +
    "cooccurBatch from a committed predecessor (one batch checkpoint, " +
    "no state schema inference)") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-wavejobs").toString
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    val eval = docs.filter(col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    def curate(b: Long, wave: org.apache.spark.sql.DataFrame): Unit =
      graft.streaming.DocumentStreams.curateBatch(wave, b, eval,
        s"$base/index", s"$base/pairs", s"$base/curated",
        minJaccardBp = 2000)
    val wave1 = corpus.filter(col("doc_id") >= 150)
    curate(0L, corpus.filter(col("doc_id") < 150))
    val curateJobs = jobsIn(curate(1L, wave1))
    val ev = graft.sources.Tables.events(spark, dir)
      .select("user_id", "event_type", "event_id")
    val slice1 = ev.filter(col("event_id") % 2 === 1L)
    def cooccur(b: Long, slice: org.apache.spark.sql.DataFrame): Unit =
      graft.streaming.SketchStreams.cooccurBatch(slice, b, s"$base/state")
    cooccur(0L, ev.filter(col("event_id") % 2 === 0L))
    val cooccurJobs = jobsIn(cooccur(1L, slice1))
    // exact counts in this suite's session: a second batch checkpoint,
    // a distinct() before an anti-join or a schema-inferring state read
    // each adds a job
    assert(curateJobs == 14, "curateBatch jobs on a second wave")
    assert(cooccurJobs == 7, "cooccurBatch jobs from a committed v=0")
    // a further wave of the same shape (the same slices again, as batch
    // 2: the inputs' filter literals are part of the generated code)
    // reuses every class the previous wave generated
    val c0 = TaskCounters.compiles
    curate(2L, wave1)
    cooccur(2L, slice1)
    assert(TaskCounters.compiles - c0 == 0,
      "classes compiled by a further curate + co-occurrence wave")
  }
}
