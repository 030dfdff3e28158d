package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Streaming ANN ingestion: the embeddings-side twin of
  * DocumentStreams.nearDupBatch — exactly-once micro-batch landing
  * composed with the standing-quantizer assignment
  * (Similarity.incrementalAssign). Each micro-batch:
  *
  *   1. bootstrap: if no standing centroid table exists yet, TRAIN it on
  *      this (first) batch and write it — training is deterministic
  *      (first-k seed + Lloyd), so a crash-replay of the bootstrap batch
  *      retrains byte-identical centroids and the overwrite converges;
  *   2. assigns the batch map-side against the broadcast k-row table —
  *      O(batch) per micro-batch, no historical vector is ever rescanned;
  *   3. lands (vec_id, cell) under `out/batch_id=N` (overwrite — the
  *      idempotent at-least-once → exactly-once recipe).
  *
  * Retraining cadence is deliberately OUTSIDE the stream (drop the
  * centroid table and replay, or swap in a refreshed table between
  * runs): a quantizer that silently retrains mid-stream would reassign
  * history, which is a batch job, not a streaming side effect.
  */
object EmbeddingStreams {

  /** One micro-batch of the streaming assignment (public so tests and
    * any foreachBatch caller run the exact same code path). */
  def assignBatch(batch: DataFrame, batchId: Long, indexDir: String,
                  outPath: String, k: Int, lloydIters: Int): Unit = {
    val spark = batch.sparkSession
    val vecs = batch.select(col("vec_id"), col("embedding"))
    val centPath = s"$indexDir/centroids"
    // gate on the committer's _SUCCESS marker, not the bare directory: a
    // crash mid-write leaves a partial directory that would pass a
    // directory-exists check on replay and feed a corrupt or empty
    // quantizer; an uncommitted directory retrains (overwrite converges)
    if (!VersionedState.committed(spark, centPath))
      Similarity.centroids(vecs, k, lloydIters)
        .write.mode("overwrite").parquet(centPath)
    val cents = spark.read.parquet(centPath)
    // fail fast on a short quantizer (e.g. a bootstrap batch with fewer
    // than k vectors trains fewer centroids) instead of silently
    // assigning against the wrong-k table
    val nCents = cents.count()
    require(nCents == k,
      s"standing quantizer at $centPath has $nCents centroids, expected " +
        s"$k — bootstrap with at least k vectors or remove the directory")
    Similarity.incrementalAssign(cents, vecs)
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
  }

  // -----------------------------------------------------------------
  // Streaming PQ encoding — the compressed-index member of the
  // streaming ANN family, the assignBatch recipe with the PQ codebook
  // as the standing quantizer: bootstrap trains it on the first batch
  // (deterministic — micro-unit-quantized Lloyd, so crash-replay
  // retrains byte-identical), every batch then encodes map-side
  // against the broadcast codebook table and lands its codes under
  // out/batch_id=N (idempotent overwrite). Codes are a pure per-vector
  // function of the codebook, so every landed slice equals the
  // one-shot encode of its vectors (PqSpec's incremental contract).
  // -----------------------------------------------------------------

  /** One micro-batch of the streaming PQ encode (public so tests and
    * any foreachBatch caller run the exact same code path). */
  def pqEncodeBatch(batch: DataFrame, batchId: Long, indexDir: String,
                    outPath: String, nsub: Int, k: Int,
                    dsub: Int): Unit = {
    val spark = batch.sparkSession
    val vecs = batch.select(col("vec_id"), col("embedding"))
    val cbPath = s"$indexDir/pq_codebook"
    // _SUCCESS-gated bootstrap, the assignBatch discipline: an
    // uncommitted directory retrains rather than reading partial bytes
    if (!VersionedState.committed(spark, cbPath))
      graft.functions.Pq.codebook(vecs, nsub, k, dsub)
        .write.mode("overwrite").parquet(cbPath)
    val cb = spark.read.parquet(cbPath)
    val nRows = cb.count()
    require(nRows == nsub.toLong * k,
      s"standing PQ codebook at $cbPath has $nRows rows, expected " +
        s"${nsub * k} — bootstrap with at least k vectors or remove it")
    graft.functions.Pq.encode(vecs, cb, nsub, dsub)
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
  }

  // -----------------------------------------------------------------
  // Streaming HNSW maintenance — the graph-index member of the
  // versioned standing-artifact family (index/dimension/sketch/degree/
  // layout streams). Each micro-batch resume-inserts into the standing
  // graph (Hnsw.insertIncremental): O(touched shards) work, history
  // never re-read. Because resumed construction is deterministic and
  // replays the one-shot build exactly (HnswSpec), EVERY committed
  // version equals a from-scratch index over everything streamed so
  // far — and crash replay of batch N re-reads committed v=N−1 and
  // rewrites the same v=N bytes (the [[VersionedState]] contract).
  //
  // Contract inherited from insertIncremental: batches arrive with
  // ascending vec_ids (append-only ingestion, the log-structured id
  // discipline); a violation fails the batch loudly inside the task.
  // -----------------------------------------------------------------

  /** One micro-batch of the HNSW fold (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def hnswBatch(batch: DataFrame, batchId: Long, stateDir: String,
                nShards: Int, m: Int, efConstruction: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val vecs = batch.select(col("vec_id"), col("embedding"))
    val next = VersionedState.prior(spark, stateDir, batchId) match {
      case Some(prev) =>
        graft.functions.Hnsw.insertIncremental(
          spark.read.parquet(prev).as[graft.functions.HnswNode],
          vecs, nShards, m, efConstruction)
      case None => // bootstrap: the first committed batch IS the index
        graft.functions.Hnsw.buildIndex(vecs, nShards, m, efConstruction)
    }
    next.write.mode("overwrite").parquet(
      VersionedState.path(stateDir, batchId))
  }

  /** The latest committed HNSW index under `stateDir`, typed for
    * Hnsw.searchIndex / further insertIncremental calls. */
  def latestHnswIndex(spark: org.apache.spark.sql.SparkSession,
                      stateDir: String):
      org.apache.spark.sql.Dataset[graft.functions.HnswNode] = {
    import spark.implicits._
    spark.read.parquet(VersionedState.latest(spark, stateDir))
      .as[graft.functions.HnswNode]
  }
}
