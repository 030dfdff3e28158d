package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{Dedup, Sketches}

/** Streaming heavy-hitter maintenance: the sketch-side member of the
  * versioned standing-artifact family (index — IndexStreams, dimension
  * — DimensionStreams). Each micro-batch builds its own Misra-Gries
  * state (freqState over just the batch) and folds it into the standing
  * state with the PODS-2012 merge — state-sized work per batch, the
  * event history is never re-read. Below capacity the state is exact at
  * every version; beyond it each version carries the merged-summary
  * bound.
  *
  * Exactly-once: the [[VersionedState]] fold, for every maintainer here.
  */
object SketchStreams {

  /** The schema of the co-occurrence state's `pc` frame. */
  private val PairCounts = org.apache.spark.sql.types.StructType.fromDDL(
    "type_a STRING, type_b STRING, n_ab BIGINT")

  /** One micro-batch of the heavy-hitter merge (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def hhBatch(batch: DataFrame, batchId: Long, stateDir: String, k: Int,
              groupCol: String, itemCol: String): Unit = {
    val batchState = Sketches.freqState(batch, groupCol, itemCol, k)
    VersionedState.fold(stateDir, batchId, batchState.limit(0))(
      Sketches.mergeFreqStates(_, batchState, k, groupCol))
  }

  /** One micro-batch of the Count-Min merge — the point-frequency
    * member of the streaming sketch family. Unlike Misra-Gries, the
    * Count-Min state is EXACT deterministic cell counts, so folding a
    * batch in is plain count addition (Sketches.mergeCountMin) and
    * every version's point estimates equal a one-shot sketch over
    * everything streamed so far. */
  def cmBatch(batch: DataFrame, batchId: Long, stateDir: String,
              itemCol: String, width: Int, depth: Int): Unit = {
    // fan = false: a micro-batch is small by contract — the parallelism
    // floor's exchange costs more than the batch's hash kernel saves
    // (measured r19: q250 1.92 s -> 2.62 s isolated with the fan on)
    val batchState = Sketches.countMin(batch, itemCol, width, depth,
      fan = false)
    VersionedState.fold(stateDir, batchId, batchState.limit(0))(
      Sketches.mergeCountMin(_, batchState))
  }

  /** Fold one batch's HyperLogLog registers into the standing table
    * (Sketches.hllRegisters / mergeHll — elementwise max, so unlike
    * Count-Min a REPLAYED batch is harmless even without the version
    * guard; the guard still makes the fold exactly-once). The standing
    * artifact answers corpus-wide distinct-count queries from ≤ 2^p
    * rows per group without rescanning history. */
  def hllBatch(batch: DataFrame, batchId: Long, stateDir: String,
               groupCol: String, valueCol: String, p: Int): Unit = {
    val batchState = Sketches.hllRegisters(batch, groupCol, valueCol, p)
    VersionedState.fold(stateDir, batchId, batchState.limit(0))(
      Sketches.mergeHll(_, batchState, groupCol))
  }

  /** Fold one batch into the standing CO-OCCURRENCE state (the q206
    * market-basket table maintained incrementally). The state is a PAIR
    * of frames under one version: `ut/` — distinct (user, type)
    * memberships seen so far — and `pc/` — unordered type-pair counts at
    * the user grain. A batch contributes only the memberships it is
    * FIRST to introduce (anti-join against standing `ut`), and new
    * pairs are exactly (new membership) × (full membership of the same
    * user), with new×new pairs kept once via a type-order guard — so
    * folding every batch reproduces the one-shot distinct-pair counts
    * regardless of how events split across batches or how often a
    * (user, type) repeats. Per-batch work is O(batch × per-user types):
    * the bounded type domain makes the join volume users·types² at
    * worst, never events². `ut` is the version's commit marker, so it
    * lands after `pc`. */
  def cooccurBatch(batch: DataFrame, batchId: Long,
                   stateDir: String, userCol: String = "user_id",
                   typeCol: String = "event_type"): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val batchUt = batch.select(col(userCol).as("user_id"),
      col(typeCol).as("event_type")).distinct()
    // state is read back with the schema it was written with: no
    // footer-inference job per read
    val (standingUt, standingPc) =
      VersionedState.prior(spark, stateDir, batchId, "ut") match {
        case Some(prev) =>
          (spark.read.schema(batchUt.schema).parquet(s"$prev/ut"),
            spark.read.schema(PairCounts).parquet(s"$prev/pc"))
        case None =>
          (batchUt.limit(0), spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            PairCounts))
      }
    val (mergedUt, mergedPc, newUt) = cooccurFold(standingUt, standingPc,
      batchUt)
    val next = VersionedState.path(stateDir, batchId)
    mergedPc.write.mode("overwrite").parquet(s"$next/pc")
    mergedUt.write.mode("overwrite").parquet(s"$next/ut")
    // blocking: the checkpoint's blocks are gone when the call returns
    Dedup.checkpointRdd(newUt).foreach(_.unpersist(blocking = true))
  }

  /** The pure co-occurrence fold shared by the streaming maintainer and
    * the batch incremental query (q213): given the standing membership
    * and pair-count frames and a batch's distinct (user_id, event_type)
    * memberships, return the folded pair. Pairs a NEW membership forms:
    * with every STANDING membership of the same user (counted once —
    * the standing side can't be new), and with OTHER new memberships of
    * the user (type-order guard keeps each unordered new×new pair
    * once) — so folded ≡ one-shot over the concatenated event stream,
    * however events split across batches. The third frame is the
    * local checkpoint of the new memberships that both folded frames
    * read: a caller that materializes them releases it after its last
    * read (`Dedup.checkpointRdd`); one that returns them lazily keeps
    * it. */
  def cooccurFold(standingUt: DataFrame, standingPc: DataFrame,
                  batchUt: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val newUt = batchUt.join(standingUt, Seq("user_id", "event_type"),
      "left_anti").localCheckpoint()
    val withStanding = newUt.select(col("user_id"),
        col("event_type").as("ta"))
      .join(standingUt.select(col("user_id"),
        col("event_type").as("tb")), Seq("user_id"))
    val withNew = newUt.select(col("user_id"),
        col("event_type").as("ta"))
      .join(newUt.select(col("user_id"), col("event_type").as("tb")),
        Seq("user_id"))
      .filter(col("ta") < col("tb"))
    // each new pair counts 1: one aggregation folds them into the
    // standing counts
    val newPairs = withStanding.unionByName(withNew)
      .select(least(col("ta"), col("tb")).as("type_a"),
        greatest(col("ta"), col("tb")).as("type_b"), lit(1L).as("n_ab"))
    val mergedPc = standingPc.unionByName(newPairs)
      .groupBy("type_a", "type_b").agg(sum(col("n_ab")).as("n_ab"))
    (standingUt.unionByName(newUt), mergedPc, newUt)
  }

  /** The pair counts of the latest committed co-occurrence version. */
  def latestCooccurrence(spark: SparkSession,
                         stateDir: String): DataFrame =
    spark.read.schema(PairCounts)
      .parquet(s"${VersionedState.latest(spark, stateDir, "ut")}/pc")
}
