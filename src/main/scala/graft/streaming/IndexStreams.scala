package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.Retrieval

/** Streaming inverted-index maintenance: the retrieval-side member of the
  * standing-artifact family (near-dup index — DocumentStreams, ANN
  * quantizer — EmbeddingStreams, SCD2 dimension — DimensionStreams).
  * Each micro-batch tokenizes ONLY its own documents, builds the batch's
  * arr-form index, and folds it into the standing index via
  * [[Retrieval.mergeIndexesArr]] — counts add, bounded posting lists
  * merge on the k-min semilattice, the historical corpus is never
  * re-tokenized (the join is vocabulary-sized).
  *
  * Exactly-once: the [[VersionedState]] fold, for every maintainer here.
  * Contract: batches partition the corpus (each doc id arrives exactly
  * once across the stream) — df/total_tf add only for disjoint doc
  * sets, the same contract as batch q92.
  */
object IndexStreams {

  /** One micro-batch of the streaming index merge (public so tests and
    * any foreachBatch caller run the exact same code path). */
  def indexBatch(batch: DataFrame, batchId: Long, indexDir: String,
                 maxPostings: Int, idCol: String = "doc_id",
                 textCol: String = "text"): Unit = {
    val batchIx = Retrieval.invertedIndexArr(batch, maxPostings, idCol,
      textCol)
    VersionedState.fold(indexDir, batchId, batchIx.limit(0))(
      Retrieval.mergeIndexesArr(_, batchIx, maxPostings))
  }

  // -----------------------------------------------------------------
  // Streaming BPE word-table maintenance — the tokenizer-side member
  // of the versioned standing-artifact family. BPE training state is a
  // pure function of the word-frequency table and word counts ADD, so
  // the table is the artifact: each micro-batch tokenizes only its own
  // documents and folds counts in (graft.functions.Bpe.mergeWordTables);
  // retraining merges from ANY committed version equals one-shot
  // training over everything streamed to that point (q141's contract,
  // StreamingSpec-pinned end-to-end through training). Same corpus-
  // partitioning contract as the inverted index: each doc arrives once.
  // -----------------------------------------------------------------

  /** One micro-batch of the word-count fold (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def bpeBatch(batch: DataFrame, batchId: Long, stateDir: String,
               textCol: String = "text"): Unit = {
    val batchWords = graft.functions.Bpe.wordTable(batch, textCol)
    VersionedState.fold(stateDir, batchId, batchWords.limit(0))(
      graft.functions.Bpe.mergeWordTables(_, batchWords))
  }

  // -----------------------------------------------------------------
  // Streaming Naive Bayes sufficient statistics — the trained-
  // classifier member of the same family. The NB model is a pure
  // function of the (label, term) count table and counts ADD, so the
  // count table is the standing artifact: each micro-batch tokenizes
  // only its own labeled documents and folds counts in
  // (NaiveBayes.mergeCounts); deriving the model from ANY committed
  // version equals one-shot training over everything streamed so far
  // (NaiveBayesSpec's merged ≡ rebuilt, StreamingSpec end-to-end).
  // Same corpus-partitioning contract: each doc arrives once.
  // -----------------------------------------------------------------

  /** One micro-batch of the NB count fold (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def nbBatch(batch: DataFrame, batchId: Long, stateDir: String,
              labelCol: String = "lang", textCol: String = "text"): Unit = {
    val batchCounts =
      graft.functions.NaiveBayes.termCounts(batch, labelCol, textCol)
    VersionedState.fold(stateDir, batchId, batchCounts.limit(0))(
      graft.functions.NaiveBayes.mergeCounts(_, batchCounts))
  }

  // -----------------------------------------------------------------
  // Streaming ExactSubstr — the span-dedup member of the family. The
  // standing artifact is the window-owner index (h, first_id), folded
  // by min per batch (q180's recipe); each batch's duplicated spans
  // derive at ingest time and land under spans/b=<batch>, so the
  // accumulated span table over any prefix of the stream equals the
  // one-shot exactSubstrSpans over the documents streamed so far.
  // Contract: doc ids ascend across batches (append-only — the q180
  // condition under which old owners are never displaced).
  // -----------------------------------------------------------------

  /** One micro-batch of the ExactSubstr fold (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def substrBatch(batch: DataFrame, batchId: Long, stateDir: String,
                  windowWords: Int): Unit =
    VersionedState.fold(s"$stateDir/idx", batchId,
        graft.functions.Dedup.exactSubstrIndex(batch.limit(0), windowWords)) {
      standing =>
        // probe + fold share one window pass (the fold IS the probe's
        // combined owner table) — see Dedup.exactSubstrSpansAndFold
        val (spans, folded) = graft.functions.Dedup
          .exactSubstrSpansAndFold(standing, batch, windowWords)
        spans.write.mode("overwrite").parquet(s"$stateDir/spans/b=$batchId")
        folded
    }

  /** Every span landed so far (partition-discovered over spans/b=*). */
  def substrSpans(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/spans").drop("b")

  // -----------------------------------------------------------------
  // Streaming entity resolution — q159's incremental fold as a
  // maintained artifact pair: the NAME table (what new batches block
  // against) and the COMPONENT table (what the contraction folds new
  // pairs into). Each micro-batch generates only batch×standing and
  // batch×batch candidates; standing×standing never re-compares, so
  // the entity table of any committed version equals the one-shot
  // closure over the names streamed so far (q157's oracle property).
  // Both live under one version, `v=N/{names,comps}`; `names` is the
  // commit marker, so it lands after `comps`.
  // -----------------------------------------------------------------

  /** One micro-batch of the entity fold (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def entityBatch(batch: DataFrame, batchId: Long, stateDir: String,
                  idCol: String, textCol: String, maxDist: Int,
                  q: Int): Unit = {
    val spark = batch.sparkSession
    val names = batch.select(col(idCol), col(textCol))
    val (comps, allNames) =
      VersionedState.prior(spark, stateDir, batchId, "names") match {
        case None =>
          val pairs = graft.functions.TextAnalysis.fuzzyPairs(names, idCol,
            textCol, maxDist, q)
          (graft.functions.Dedup.connectedComponents(pairs, "id_a", "id_b",
            assumeDistinctPairs = true), names)
        case Some(prev) =>
          val standNames = spark.read.parquet(s"$prev/names")
          val standComps = spark.read.parquet(s"$prev/comps")
          val newPairs = graft.functions.TextAnalysis.fuzzyPairsAgainst(
            standNames, names, idCol, textCol, maxDist, q)
          (graft.functions.Dedup.applyClusterBatch(standComps,
            newPairs.select("id_a", "id_b")), standNames.unionByName(names))
      }
    val next = VersionedState.path(stateDir, batchId)
    comps.write.mode("overwrite").parquet(s"$next/comps")
    allNames.write.mode("overwrite").parquet(s"$next/names")
  }

  /** The component table of the latest committed entity version. */
  def latestEntities(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(
      s"${VersionedState.latest(spark, stateDir, "names")}/comps")
}
