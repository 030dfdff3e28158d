package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Layout, Sketches}

/** Streaming distribution monitoring: the drift member of the versioned
  * standing-artifact family. The standing artifact is the fixed-width
  * bin HISTOGRAM of everything streamed so far (Sketches.binCounts
  * state, folded per micro-batch by count addition — batch-sized work,
  * history never re-read); at any version, [[Sketches.psiFromBins]]
  * against a landed reference histogram yields the exact same PSI
  * report a batch [[Sketches.psiDrift]] over the full stream would
  * produce (StreamingSpec pins it).
  *
  * Exactly-once: the [[VersionedState]] fold, for every maintainer here.
  */
object MonitorStreams {

  /** One micro-batch of the histogram fold (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def binBatch(batch: DataFrame, batchId: Long, stateDir: String,
               valueCol: String, binWidth: Double): Unit = {
    val batchBins = Sketches.binCounts(batch, valueCol, binWidth)
    VersionedState.fold(stateDir, batchId, batchBins.limit(0)) {
      _.unionByName(batchBins).groupBy("bin").agg(sum(col("cnt")).as("cnt"))
    }
  }

  /** One micro-batch of the streaming QUANTILE fold — the KLL member of
    * the standing-artifact family (histograms answer drift, this
    * answers percentiles): the batch reduces to one externalized KLL
    * sketch row (O(k) weighted samples, batch-sized work), which folds
    * into the standing sketch via [[Sketches.mergeKllSketches]] —
    * history is never re-read, and the landed array answers any
    * quantile query via [[Sketches.kllQuantileReport]] without another
    * pass over the stream (contrast bisectQuantiles' four batch
    * passes). */
  def kllBatch(batch: DataFrame, batchId: Long, stateDir: String,
               valueCol: String, k: Int): Unit = {
    val batchSk = batch.filter(col(valueCol).isNotNull)
      .agg(Sketches.kllSketch(col(valueCol).cast("long"), k).as("sk"))
      .filter(col("sk").isNotNull)
    VersionedState.fold(stateDir, batchId, batchSk.limit(0)) {
      _.unionByName(batchSk)
        .agg(Sketches.mergeKllSketches(col("sk"), k).as("sk"))
        .filter(col("sk").isNotNull)
    }
  }

  /** Quantiles answered from the latest committed KLL state — no pass
    * over the stream's history, just the O(k) landed sketch. */
  def quantilesFromState(spark: SparkSession, stateDir: String,
                         percentiles: Seq[Int]): DataFrame =
    Sketches.kllQuantileReport(
      spark.read.parquet(VersionedState.latest(spark, stateDir)), "sk",
      percentiles)

  /** One micro-batch of the streaming LAYOUT monitor — the z-order
    * member of the standing-artifact family: each batch reduces to its
    * fixed-grid bucket stats ([[Layout.zOrderBucketStatsFixed]] — a
    * pure function of the batch because the grid is declared, not
    * derived), which fold into the standing report by count addition +
    * min/max combine ([[Layout.mergeZOrderStats]]). The maintenance
    * loop on an append-heavy table reads this standing report to decide
    * WHEN to run the OPTIMIZE ZORDER rewrite — without ever rescanning
    * the table. */
  def zorderBatch(batch: DataFrame, batchId: Long, stateDir: String,
                  xCol: String, yCol: String, bucketBits: Int,
                  xMin: Long, xMax: Long, yMin: Long,
                  yMax: Long): Unit = {
    val batchStats = Layout.zOrderBucketStatsFixed(batch, xCol, yCol,
      bucketBits, xMin, xMax, yMin, yMax)
    VersionedState.fold(stateDir, batchId, batchStats.limit(0))(
      Layout.mergeZOrderStats(_, batchStats))
  }

  /** One micro-batch of the streaming CORPUS-QUALITY monitor — the
    * hygiene member of the standing-artifact family: each batch
    * reduces to one row of additive counts (docs seen, Gopher-gate
    * passes, Gopher word totals, PII-carrying docs — the q151/q149
    * kernels aggregated map-side), which folds into the standing row
    * by integer addition. An ingestion pipeline reads the landed row
    * to alarm on quality drift (pass-rate or PII-rate moving) without
    * ever rescanning history; merged ≡ rebuilt exactly (pure counts).
    * Per batch the text is read twice (census + PII scan) — batch-
    * sized, not corpus-sized. */
  def qualityBatch(batch: DataFrame, batchId: Long,
                   stateDir: String): Unit = {
    val g = graft.functions.TextAnalysis.gopherGate(batch)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("gopher_pass").cast("long")).as("n_pass"),
        sum(col("n_words")).as("n_words"))
    val p = graft.functions.Pii.scan(batch)
      .agg(sum(col("has_pii").cast("long")).as("n_pii"))
    val batchStats = g.crossJoin(p)
    VersionedState.fold(stateDir, batchId, batchStats.limit(0)) {
      _.unionByName(batchStats)
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_pass")).as("n_pass"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_pii")).as("n_pii"))
    }
  }

  /** Drift report from the landed quality state: totals + pass/PII
    * rates in exact integer basis points. */
  def qualityReport(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(VersionedState.latest(spark, stateDir))
      .select(col("n_docs"), col("n_pass"), col("n_words"), col("n_pii"),
        when(col("n_docs") > 0,
          floor(col("n_pass") * lit(10000.0) / col("n_docs"))
            .cast("long")).otherwise(0L).as("pass_bp"),
        when(col("n_docs") > 0,
          floor(col("n_pii") * lit(10000.0) / col("n_docs"))
            .cast("long")).otherwise(0L).as("pii_bp"))

  // -----------------------------------------------------------------
  // Streaming seasonal baseline (q201's state as a standing artifact):
  // per (event_type, hour-of-day), the (sum_c, n_hours) sufficient
  // statistics of the hourly counts — both ADD across batches, so the
  // standing table folds additively and the milli-count baseline
  // derives from any committed version. Contract: batches partition
  // the event stream by WHOLE HOURS (an hour's events arrive in one
  // batch) — the q92 corpus-partitioning contract at hour grain;
  // splitting an hour would double-count it in n_hours.
  // -----------------------------------------------------------------

  /** One micro-batch of the seasonal fold (public so tests and any
    * foreachBatch caller run the exact same code path). */
  def seasonalBatch(batch: DataFrame, batchId: Long,
                    stateDir: String): Unit = {
    val batchStats = batch
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"), hour(col("hr")).cast("long").as("h24"))
      .agg(sum(col("c")).as("sum_c"), count(lit(1)).as("n_hours"))
    VersionedState.fold(stateDir, batchId, batchStats.limit(0)) {
      _.unionByName(batchStats)
        .groupBy(col("event_type"), col("h24"))
        .agg(sum(col("sum_c")).as("sum_c"),
          sum(col("n_hours")).as("n_hours"))
    }
  }

  /** Baselines in exact milli-counts from the latest committed
    * seasonal state — the q201 formula answered from the landed
    * sufficient statistics. */
  def seasonalBaselines(spark: SparkSession,
                        stateDir: String): DataFrame =
    spark.read.parquet(VersionedState.latest(spark, stateDir))
      .select(col("event_type"), col("h24"),
        expr("sum_c * 1000 div n_hours").as("baseline_milli"))
}
