package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{Dedup, TextAnalysis}

/** Streaming near-duplicate ingestion: the composition of the two proven
  * pieces — exactly-once micro-batch landing (idempotent per-batch
  * overwrite, EventStreams.idempotentBatchWrite's recipe) and the
  * incremental near-dup probe against a STANDING band/shingle index
  * (Dedup.incrementalNearDups). Each micro-batch scans its text once,
  * into one checkpoint of (id, shingle set, MinHash signature) that
  * the three steps below share and that is released after them:
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
    * directory yet → empty frame with the right schema, taken from the
    * caller's batch-derived frame with its rows cut to zero). */
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
    * same code path). Returns the schema the pairs landed with, so a
    * reader of them infers nothing from the files. */
  def nearDupBatch(batch: DataFrame, batchId: Long, indexDir: String,
                   outPath: String, idCol: String, textCol: String,
                   shingleN: Int, bands: Int, rowsPerBand: Int,
                   minJaccardBp: Long): StructType = {
    val spark = batch.sparkSession
    val text = col(textCol)
    // ONE checkpoint per batch — (id, shingle set, signature), the only
    // scan of the batch text: the probe references the band rows and
    // shingle sets 2x each and the index growth lands both, so without
    // a materialization point the text kernels ran ~5x per batch (r19
    // audit). Band rows explode from `sig` and shingle sets project
    // `hs`, both over the checkpointed rows.
    val sigs = batch.select(col(idCol),
        Dedup.shingleHashesFast(text, shingleN).as("hs"),
        Dedup.minhashSignatureFast(text, shingleN, bands * rowsPerBand)
          .as("sig"))
      .localCheckpoint()
    val nb = Dedup.sigBandRows(sigs, idCol, bands, rowsPerBand)
    val ns = sigs.filter(size(col("hs")) > 0).select(col(idCol), col("hs"))
    val idxBands = loadIndex(spark, s"$indexDir/bands", nb.limit(0))
    val idxShingles = loadIndex(spark, s"$indexDir/shingles", ns.limit(0))
    // a replayed batch may already have contributed index rows (crash
    // between index write and checkpoint commit) — remove its own ids so
    // replay probes the same index state the first attempt did (repeated
    // build keys do not change an anti-join, so no distinct)
    val ownIds = sigs.select(col(idCol))
    val pairs = Dedup.incrementalNearDupsFrom(nb, ns,
      idxBands.join(broadcast(ownIds), Seq(idCol), "left_anti"),
      idxShingles.join(broadcast(ownIds), Seq(idCol), "left_anti"),
      idCol, minJaccardBp)
    pairs.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    nb.write.mode("overwrite")
      .parquet(s"$indexDir/bands/batch_id=$batchId")
    ns.write.mode("overwrite")
      .parquet(s"$indexDir/shingles/batch_id=$batchId")
    // blocking: the blocks are gone when the call returns, so no removal
    // runs on into the caller's next job
    Dedup.checkpointRdd(sigs).foreach(_.unpersist(blocking = true))
    pairs.schema
  }

  /** One micro-batch of the STREAMING CURATION pipeline — the
    * foreachBatch composition of the batch curation stages over
    * standing streaming state: quality gate (map-side census kernels),
    * near-dup with the KEEP-FIRST policy (a batch doc drops when it
    * duplicates anything already indexed — arrival order — or a
    * lower-id batch-mate; the index grows by ALL batch docs, kept or
    * dropped, so a later twin of a dropped doc is dropped too), and
    * benchmark decontamination against the fixed eval set (one
    * broadcast shingle array). The quality rules and the eval-shingle
    * count run as one filter over the batch rows, then one broadcast
    * anti-join drops the near-duplicates. The filter judges each row
    * on its own text, so it relies on doc ids being unique within a
    * batch, as [[nearDupBatch]] does. All writes key by batch_id and
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
    val pairSchema = nearDupBatch(batch, batchId, indexDir, pairsPath,
      idCol, textCol, shingleN, bands, rowsPerBand, minJaccardBp)
    val spark = batch.sparkSession
    val text = col(textCol)
    // the landed pairs ARE this batch's duplicate verdicts (reading the
    // sink keeps replay ≡ first run — same bytes either way), read with
    // the schema they were written with: no footer-inference job
    val dropped = spark.read
      .schema(pairSchema)
      .parquet(s"$pairsPath/batch_id=$batchId")
      .select(col("new_id").as(idCol))
    batch.crossJoin(broadcast(Dedup.evalShingles(evalDocs, textCol,
        shingleN)))
      .filter(TextAnalysis.qualityReason(text).isNull &&
        Dedup.evalHits(Dedup.shingleHashesFast(text, shingleN),
          col("eval_hs")) === 0)
      .drop("eval_hs")
      .join(broadcast(dropped), Seq(idCol), "left_anti")
      .write.mode("overwrite")
      .parquet(s"$curatedPath/batch_id=$batchId")
  }
}
