package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver's read-only Parquet test tables (TESTDATA.md) and
  * generic partition-discovering Parquet/CSV sources mirroring the
  * reference's storage layer (reference: docker/dags/trino_init_tables_dag.py:38-67
  * — external Hive-partitioned Parquet; docker/dags/hdfs_upload_data_dag.py:122-174
  * — CSV staging + snappy Parquet).
  *
  * Scale posture: plain `spark.read.parquet` keeps partition discovery,
  * predicate pushdown and column pruning intact; no schema inference happens
  * for Parquet (footer-driven), so scans stay metadata-cheap at 100 TB.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Relation memo: `spark.read.parquet` lists files and reads footers at
    * DataFrame construction, which costs ~100ms per call — per QUERY when
    * every query re-loads its base tables. A catalog-backed deployment
    * resolves a table to a cached relation with known schema/file-index;
    * this memo gives the test tables (immutable, TESTDATA.md) the same
    * semantics. Only the plan metadata is reused — no row data is cached.
    *
    * Contract: the memo assumes the files at a path never change for the
    * life of the session (true for the driver's test tables); mutable
    * data should go through the catalog (Catalog.scala), whose refresh
    * handles invalidation. Lifetime: [[SessionMemo]].
    */
  private val relCache = new SessionMemo[String, DataFrame]

  /** Materialize-once: builds `build` a single time per (session, dir,
    * name), saves it as a Parquet catalog table (optionally bucketed,
    * with computed stats) and returns the catalog relation — a LEAF in
    * every consumer's plan, unlike .persist() which drags the full
    * derivation tree through each consumer's analysis/optimization.
    * This is the standing-infrastructure pattern: dims, dedup indexes
    * and cluster tables are computed once by a pipeline, and queries
    * consume the result table.
    *
    * The table/path name embeds an md5 of the raw (dir, name) (NUL-joined
    * so no (dir, name) pair can alias another) because the readable
    * prefix's character normalization is lossy. The path is per-JVM: a
    * fixed shared location would let a second JVM's mode-overwrite delete
    * files this JVM's catalog relation is still reading. Lifetime and
    * the at-most-once build (no two racing `saveAsTable`s on one path):
    * [[SessionMemo]].
    */
  private val matCache = new SessionMemo[(String, String), DataFrame]

  def memoTable(spark: SparkSession, dir: String, name: String,
                bucketCols: Seq[String] = Nil)
               (build: => DataFrame): DataFrame =
    matCache(spark, (dir, name)) {
      val raw = dir + "\u0000" + name
      val safe = s"${dir}_$name".replaceAll("[^A-Za-z0-9]", "_")
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(raw.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val table = s"graft_${safe}_$fp"
      if (!spark.catalog.tableExists(table)) {
        val path = TmpDirs.register(
          s"${System.getProperty("java.io.tmpdir")}/graft-mat-" +
            s"${ProcessHandle.current().pid()}") + s"/${safe}_$fp"
        val w = build.write.mode("overwrite").option("path", path)
        // bucketed layout gives scans HashPartitioning on the bucket key:
        // per-key joins/windows then plan with no exchange on this side
        (if (bucketCols.nonEmpty)
          w.bucketBy(8, bucketCols.head, bucketCols.tail: _*)
            .sortBy(bucketCols.head, bucketCols.tail: _*)
         else w).saveAsTable(table)
        // real row/size stats so the optimizer sizes joins from numbers,
        // not file-size heuristics
        spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
      }
      spark.table(table)
    }

  /** One Parquet file/dir per table: `<dir>/<name>.parquet`. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    relCache(spark, path)(spark.read.parquet(path))
  }

  /** Scale-adaptive parallelism floor for CPU-dense per-row kernels
    * (codec encode/decode, shingling, sketch folds) fed by a SMALL scan
    * (optimization guide §2.5, "input skew: one huge unsplittable
    * file... repartition immediately after the read"): the driver's test
    * tables are single-file single-row-group parquet, so their scans are
    * ONE task and everything map-side runs on one core of the session.
    * Hash-repartition such an input to the session's core count so the
    * kernel stage uses every core; an input that already carries >=
    * defaultParallelism partitions (any real at-scale table) passes
    * through untouched — the floor derives from the session, never a
    * constant. Hash distribution on a caller-named high-cardinality key
    * (not round-robin) keeps row routing deterministic under task retry
    * and skips sortBeforeRepartition's per-partition sort. Results are
    * unchanged: only row-to-partition placement moves, and every caller
    * is aggregation/join/sort-shaped downstream. */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  /** events needs special casing: the driver's `ts` encoding has drifted
    * across testdata generations — Parquet TIMESTAMP(NANOS) (which Spark 4
    * only reads as a long via spark.sql.legacy.parquet.nanosAsLong) and,
    * currently, TIMESTAMP(MICROS) without timezone annotation (read as
    * TIMESTAMP_NTZ). This accessor hides the drift: every consumer sees
    * `ts` as plain TimestampType, whichever encoding is on disk. Every
    * entry point's session comes from GraftSession.builder, which pins
    * spark.sql.session.timeZone=UTC, so the NTZ→timestamp cast keeps wall
    * clock and epoch arithmetic (`cast(ts as long)`, `unix_timestamp`)
    * agrees with the DuckDB oracle's `epoch()`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(spark, dir, "events"))
  }

  /** Normalize an event-time column to TimestampType across the encodings
    * the driver has shipped (shared by the batch accessor above and the
    * streaming reader, graft.streaming.EventStreams.readEvents — one code
    * path, so batch and stream can never disagree on the decode):
    *  - LongType        → raw TIMESTAMP(NANOS) int64, nanos → micros
    *  - TimestampNTZType → wall-clock cast (UTC sessions ⇒ same instant)
    *  - TimestampType   → already canonical
    * Anything else fails loudly: a silent mis-decode here compresses or
    * shifts the whole event timeline (the round-8 incident).
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, expr}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"unsupported event-time encoding for '$colName': $other — " +
          "extend Tables.normalizeTs for the new testdata format")
    }
  }

  /** S2 — JDBC source, the analogue of the reference's Postgres federation
    * (docker/trino-conf/catalog/postgres.properties; ddl_postgres.sql). In
    * one SparkSession the "federation" is just another DataFrame; this
    * harness substitutes Parquet-backed master tables (no DB in the
    * container), but the production edge is this reader. `partitionColumn`
    * options (added by callers for big tables) parallelize the scan.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    props.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  /** Headered CSV source, analogue of the reference's staging copies
    * (hdfs_upload_data_dag.py:122-151). Schema must be supplied by callers
    * for production use; inference is for tests only.
    */
  def csv(spark: SparkSession, path: String,
          schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }
}
