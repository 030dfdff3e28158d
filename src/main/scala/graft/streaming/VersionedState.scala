package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The on-disk format and exactly-once contract of the streaming
  * maintainers' standing state — the one place that knows both.
  *
  * Format: version N of a state lives in `dir/v=N`. A version is
  * COMMITTED only once its committer `_SUCCESS` marker exists; a crash
  * mid-write leaves `v=N` without one (e.g. just `v=N/_temporary/`),
  * and such a torn version is invisible to every reader and fold. A
  * state made of several frames keeps each under `v=N/<frame>` and
  * names one of them the `marker`: that frame is written LAST, so its
  * `_SUCCESS` is the commit point of the whole version.
  *
  * Exactly-once: batch N folds into its predecessor's committed state
  * `v=N−1` (empty state if `v=N−1` is not committed — batch N−1 replays
  * first, or N is the bootstrap batch) and overwrites `v=N`; it never
  * reads its own version. A replayed batch — at-least-once redelivery
  * after a crash between the write and the checkpoint commit — therefore
  * folds into exactly the state its first attempt saw and, the folds
  * being deterministic, rewrites the same bytes: replay converges.
  * Retention and compaction of old `v=N` directories is the caller's
  * policy.
  */
object VersionedState {

  /** The directory of version `v` under `dir`. */
  def path(dir: String, v: Long): String = s"$dir/v=$v"

  /** Whether the frame written at `path` is committed. */
  def committed(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def versionCommitted(spark: SparkSession, version: String,
                               marker: String): Boolean =
    committed(spark, if (marker.isEmpty) version else s"$version/$marker")

  /** The path of batch `batchId`'s committed predecessor `v=batchId−1`,
    * or None when the batch starts from empty state. */
  def prior(spark: SparkSession, dir: String, batchId: Long,
            marker: String = ""): Option[String] =
    Some(path(dir, batchId - 1)).filter(versionCommitted(spark, _, marker))

  /** Fold batch `batchId` into its committed predecessor (`empty` when
    * there is none) and overwrite `v=batchId` with the result. Runs in
    * the active session — the micro-batch's, inside [[ingest]]. */
  def fold(dir: String, batchId: Long, empty: => DataFrame)(
      step: DataFrame => DataFrame): Unit = {
    val spark = SparkSession.active
    val standing =
      prior(spark, dir, batchId).fold(empty)(spark.read.parquet(_))
    step(standing).write.mode("overwrite").parquet(path(dir, batchId))
  }

  /** The path of the highest committed version under `dir`. */
  def latest(spark: SparkSession, dir: String,
             marker: String = ""): String = {
    val p = new Path(dir)
    val vs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toLong)
      .filter(v => versionCommitted(spark, path(dir, v), marker))
    require(vs.nonEmpty, s"no committed versions under $dir")
    path(dir, vs.max)
  }

  /** Run `body` on every micro-batch of `rows` available now, with
    * `checkpoint` recording the batches already done (restart skips
    * them, a crashed batch is redelivered with the same id). */
  def ingest(rows: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: Dataset[Row], batchId: Long) =>
        body(batch.toDF(), batchId))
      .trigger(Trigger.AvailableNow())
      .start()
}
