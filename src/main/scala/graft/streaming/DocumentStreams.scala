package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Dedup

/** Streaming near-duplicate ingestion: the composition of the two proven
  * pieces — exactly-once micro-batch landing (idempotent per-batch
  * overwrite, EventStreams.idempotentBatchWrite's recipe) and the
  * incremental near-dup probe against a STANDING band/shingle index
  * (Dedup.incrementalNearDups). Each micro-batch:
  *
  *   1. probes the standing index (batch bands BROADCAST to the index —
  *      the index never reshuffles, O(batch) per micro-batch);
  *   2. lands its duplicate pairs under `out/batch_id=N` (overwrite);
  *   3. appends its own band rows + shingle sets to the index under
  *      `index/{bands,shingles}/batch_id=N` (overwrite).
  *
  * All three writes are keyed by batch_id and OVERWRITTEN on replay, so
  * the at-least-once foreachBatch replay converges to the same bytes —
  * exactly-once output AND exactly-once index growth. Because a crashed
  * batch may have written its index rows before the checkpoint committed,
  * the probe first anti-joins the batch's own ids out of the loaded index
  * (broadcast, batch-sized): a replayed batch sees exactly the index
  * state the original attempt saw, making replay ≡ first run.
  *
  * At 100 TB the index is the corpus-sized artifact; it stays parquet on
  * disk, partitioned by the batch that contributed each row, and only
  * the batch side of every join is broadcast.
  */
object DocumentStreams {

  /** Load one standing-index side, tolerating the empty bootstrap (no
    * directory yet → empty frame with the right schema, derived from the
    * builder run on a zero-row batch). */
  private def loadIndex(spark: SparkSession, path: String,
                        schemaOf: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schemaOf.schema).parquet(path)
      // batch_id arrives as a discovered partition column — keep only
      // the logical columns so downstream unions line up
      .select(schemaOf.columns.map(col): _*)
    else schemaOf
  }

  /** One micro-batch of the streaming near-dup ingest (public so the
    * batch twin in tests — and any foreachBatch caller — runs the exact
    * same code path). */
  def nearDupBatch(batch: DataFrame, batchId: Long, indexDir: String,
                   outPath: String, idCol: String, textCol: String,
                   shingleN: Int, bands: Int, rowsPerBand: Int,
                   minJaccardBp: Long): Unit = {
    val spark = batch.sparkSession
    val docs = batch.select(col(idCol), col(textCol))
    val emptyDocs = docs.limit(0)
    val idxBands = loadIndex(spark, s"$indexDir/bands",
      Dedup.nearDupBandRows(emptyDocs, idCol, textCol, shingleN, bands,
        rowsPerBand))
    val idxShingles = loadIndex(spark, s"$indexDir/shingles",
      Dedup.shingleSets(emptyDocs, idCol, textCol, shingleN))
    // a replayed batch may already have contributed index rows (crash
    // between index write and checkpoint commit) — remove its own ids so
    // replay probes the same index state the first attempt did
    val ownIds = docs.select(col(idCol)).distinct()
    // build the batch's band rows and shingle sets ONCE and checkpoint:
    // the probe references each 2x and the index growth lands the same
    // frames, so uncheckpointed the batch text kernel ran ~5x per batch
    // (r19 audit) — now once, with the writes scanning the materialized
    // frames
    val nb = Dedup.nearDupBandRows(docs, idCol, textCol, shingleN, bands,
      rowsPerBand).localCheckpoint()
    val ns = Dedup.shingleSets(docs, idCol, textCol, shingleN)
      .localCheckpoint()
    val pairs = Dedup.incrementalNearDupsFrom(nb, ns,
      idxBands.join(broadcast(ownIds), Seq(idCol), "left_anti"),
      idxShingles.join(broadcast(ownIds), Seq(idCol), "left_anti"),
      idCol, minJaccardBp)
    pairs.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    nb.write.mode("overwrite")
      .parquet(s"$indexDir/bands/batch_id=$batchId")
    ns.write.mode("overwrite")
      .parquet(s"$indexDir/shingles/batch_id=$batchId")
  }

  /** One micro-batch of the STREAMING CURATION pipeline — the
    * foreachBatch composition of the batch curation stages over
    * standing streaming state: quality gate (map-side census kernels),
    * near-dup with the KEEP-FIRST policy (a batch doc drops when it
    * duplicates anything already indexed — arrival order — or a
    * lower-id batch-mate; the index grows by ALL batch docs, kept or
    * dropped, so a later twin of a dropped doc is dropped too), and
    * benchmark decontamination against the fixed eval set (one
    * broadcast shingle array). All writes key by batch_id and
    * overwrite on replay — the same exactly-once recipe as
    * [[nearDupBatch]], which this calls for the index step. Driven to
    * completion on id-ordered waves, the accumulated curated set
    * equals the one-shot batch policy (StreamingSpec pins it). */
  def curateBatch(batch: DataFrame, batchId: Long, evalDocs: DataFrame,
                  indexDir: String, pairsPath: String,
                  curatedPath: String, idCol: String = "doc_id",
                  textCol: String = "text", shingleN: Int = 3,
                  bands: Int = 4, rowsPerBand: Int = 4,
                  minJaccardBp: Long = 5000): Unit = {
    nearDupBatch(batch, batchId, indexDir, pairsPath, idCol, textCol,
      shingleN, bands, rowsPerBand, minJaccardBp)
    val spark = batch.sparkSession
    val docs = batch.select(col(idCol), col(textCol))
    // the landed pairs ARE this batch's duplicate verdicts (reading the
    // sink keeps replay ≡ first run — same bytes either way)
    val dropped = spark.read
      .parquet(s"$pairsPath/batch_id=$batchId")
      .select(col("new_id").as(idCol)).distinct()
    val kept = graft.functions.TextAnalysis.qualityVerdict(docs)
      .filter(col("keep")).select(idCol)
    val clean = Dedup.contamination(docs, evalDocs, idCol, textCol,
        shingleN)
      .filter(col("n_contaminated") === 0).select(idCol)
    batch.join(kept, Seq(idCol), "left_semi")
      .join(clean, Seq(idCol), "left_semi")
      .join(broadcast(dropped), Seq(idCol), "left_anti")
      .write.mode("overwrite")
      .parquet(s"$curatedPath/batch_id=$batchId")
  }
}
