package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Scd

/** Streaming SCD2 maintenance: the dimension-side member of the
  * standing-artifact family (near-dup index — DocumentStreams, ANN
  * quantizer — EmbeddingStreams, inverted index / profile state — batch
  * q92/q95). Each micro-batch folds a slice of order events into the
  * standing SCD2 table via [[Scd.applyBatch]] — closed rows pass
  * through, history is never re-read.
  *
  * Exactly-once: the [[VersionedState]] fold.
  *
  * Contracts: batches must arrive key-time-ordered (every batch event
  * strictly later than every standing event for its key — a daily
  * slice; same contract as batch applyBatch), and version retention /
  * compaction of old `v=N` directories is the caller's policy knob,
  * like quantizer retraining cadence.
  */
object DimensionStreams {

  /** One micro-batch of the streaming upsert (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def upsertBatch(batch: DataFrame, batchId: Long, dimDir: String): Unit =
    VersionedState.fold(dimDir, batchId, Scd.build(batch.limit(0)))(
      Scd.applyBatch(_, batch))
}
