package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}

/** Minimal lakehouse-style versioned table: an append-only COMMIT LOG
  * over immutable parquet data files, giving time travel, snapshot
  * isolation, and compaction-without-history-loss — the table format a
  * 100 TB curation pipeline needs so that "the corpus at the version
  * the model trained on" stays readable forever.
  *
  * Layout under the table root:
  * {{{
  *   <dir>/data/v=N/part-*.parquet   immutable files of commit N
  *   <dir>/_log/N.json               commit record N (atomic create)
  * }}}
  * (a crashed/raced landing attempt may leave an extra `data/v=N.k`
  * dir; it is unreferenced garbage — readers plan only from the log's
  * file list — see [[landData]])
  *
  * Semantics (Delta's core, teaching-scale):
  *  - `append` adds its files to the current snapshot;
  *  - `overwrite` resets the snapshot to exactly its files;
  *  - `compact` rewrites the CURRENT snapshot into fewer files and
  *    commits them as an overwrite — old versions stay readable
  *    because data files are never deleted or mutated.
  *
  * Commit protocol: data files land first (under the commit's own
  * v=N directory — never visible to readers until the log entry
  * exists), then the log record is created with
  * `FileSystem.create(path, overwrite = false)` — an ATOMIC
  * lose-nothing claim on version N. Two writers racing to commit N:
  * one create succeeds, the other throws and must retry at N+1 —
  * optimistic concurrency with no lock server, the HDFS-friendly
  * recipe. Readers resolve a snapshot purely from the log (metadata-
  * only planning: a snapshot read lists no directories but the log).
  *
  * Scale notes: commits are O(files-in-commit) metadata; append never
  * rewrites data; a snapshot read passes the exact file list to the
  * parquet source (no directory scans, no stale-file hazard). The log
  * is tiny JSON — one record per commit, parsed with a grammar this
  * object also writes, so there is no dialect drift.
  */
object VersionedTable {

  final case class Commit(version: Long, action: String,
                          files: Seq[String],
                          batchId: Option[Long] = None)

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logPath(dir: String, v: Long) = new Path(s"$dir/_log/$v.json")

  /** All committed versions, ascending (empty for a fresh/absent dir). */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val ld = new Path(s"$dir/_log")
    val fs = fsFor(spark, ld)
    if (!fs.exists(ld)) Seq.empty
    else fs.listStatus(ld).map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong)
      .sorted.toSeq
  }

  // -- log records ---------------------------------------------------

  private def render(c: Commit): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    s"""{"version":${c.version},"action":${q(c.action)},""" +
      c.batchId.map(b => s""""batchId":$b,""").getOrElse("") +
      s""""files":[${c.files.map(q).mkString(",")}]}"""
  }

  private def parse(s: String): Commit = {
    // grammar written by render() above: no nested objects, files are
    // relative paths we wrote ourselves (no escapes in practice)
    val version = """"version":(\d+)""".r
      .findFirstMatchIn(s).get.group(1).toLong
    val action = """"action":"([^"]*)"""".r
      .findFirstMatchIn(s).get.group(1)
    val filesBlob = """"files":\[([^\]]*)\]""".r
      .findFirstMatchIn(s).get.group(1)
    val files =
      if (filesBlob.isEmpty) Seq.empty
      else """"([^"]*)"""".r.findAllMatchIn(filesBlob)
        .map(_.group(1)).toSeq
    val batchId = """"batchId":(\d+)""".r
      .findFirstMatchIn(s).map(_.group(1).toLong)
    Commit(version, action, files, batchId)
  }

  private def readCommit(spark: SparkSession, dir: String,
                         v: Long): Commit = {
    val p = logPath(dir, v)
    val fs = fsFor(spark, p)
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      parse(new String(bytes, "UTF-8"))
    } finally in.close()
  }

  /** Atomically claim version `v` with record `c`. Throws if another
    * writer committed `v` first (optimistic concurrency). */
  private def writeCommit(spark: SparkSession, dir: String,
                          c: Commit): Unit = {
    val p = logPath(dir, c.version)
    val fs = fsFor(spark, p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, /* overwrite = */ false)
    try out.write(render(c).getBytes("UTF-8")) finally out.close()
  }

  // -- writes --------------------------------------------------------

  /** Land `df`'s files for version `v` and return their relative paths.
    *
    * The LOG file, not the data dir, is the commit point: a crash
    * between landing and the log claim leaves a data dir no reader can
    * ever see (planning is log-only, [[filesAt]]). A retry must neither
    * wedge on that orphan (SaveMode.ErrorIfExists forever, the torn-
    * commit failure mode) nor delete it — a CONCURRENT writer mid-
    * flight on the same version is indistinguishable from a crashed
    * one, and deleting its dir could let an already-claimed log record
    * point at vanished files. So every attempt lands in the first FREE
    * attempt dir (`data/v=N`, then `data/v=N.1`, ...): dirs are
    * immutable once written, crash/loser dirs stay behind as
    * unreferenced garbage (invisible to readers; removable by hand once
    * no writer is in flight), and the log claim in [[commit]] stays the
    * one atomic decision point. */
  private def landData(df: DataFrame, dir: String, v: Long): Seq[String] = {
    val spark = df.sparkSession
    var attempt = 0
    var writes = 0
    var lastFailure: Throwable = null
    while (writes < 5) {
      val rel = if (attempt == 0) s"data/v=$v" else s"data/v=$v.$attempt"
      val dp = new Path(s"$dir/$rel")
      val fs = fsFor(spark, dp)
      if (!fs.exists(dp)) {
        writes += 1
        try {
          df.write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/$rel")
          return fs.listStatus(dp).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).sorted.map(n => s"$rel/$n")
            .toSeq
        } catch {
          // lost the dir race to a concurrent lander (or a partial dir
          // appeared): move to the next suffix. NonFatal only — an OOM
          // or interrupt must propagate, not retry — and the failure is
          // kept so a real write error (disk full, bad row) surfaces as
          // the cause instead of being masked by the retry loop.
          case e: Throwable
              if scala.util.control.NonFatal(e) && fs.exists(dp) =>
            lastFailure = e
        }
      }
      attempt += 1
      if (attempt > 10000) throw new IllegalStateException(
        s"landData: no free attempt dir for v=$v under $dir")
    }
    throw new IllegalStateException(
      s"landData: 5 write attempts for v=$v under $dir all failed " +
        "leaving partial dirs — see cause for the underlying write error",
      lastFailure)
  }

  private def commit(df: DataFrame, dir: String, action: String,
                     batchId: Option[Long] = None): Long = {
    val spark = df.sparkSession
    val v = versions(spark, dir).lastOption.getOrElse(-1L) + 1L
    val files = landData(df, dir, v)
    writeCommit(spark, dir, Commit(v, action, files, batchId))
    v
  }

  /** Append `df` as a new commit; returns the committed version. */
  def append(df: DataFrame, dir: String): Long = commit(df, dir, "append")

  /** Replace the snapshot with `df`; history stays readable. */
  def overwrite(df: DataFrame, dir: String): Long =
    commit(df, dir, "overwrite")

  /** Rewrite the CURRENT snapshot into `targetFiles` files and commit
    * as an overwrite — small-file compaction that loses no history. */
  def compact(spark: SparkSession, dir: String,
              targetFiles: Int = 1): Long =
    commit(read(spark, dir).coalesce(targetFiles), dir, "compact")

  // -- reads ---------------------------------------------------------

  /** The file list of the snapshot at version `v` (log-only planning). */
  def filesAt(spark: SparkSession, dir: String, v: Long): Seq[String] = {
    val vs = versions(spark, dir)
    require(vs.contains(v), s"version $v not committed under $dir " +
      s"(have ${vs.mkString(",")})")
    vs.filter(_ <= v).foldLeft(Seq.empty[String]) { (acc, cv) =>
      val c = readCommit(spark, dir, cv)
      c.action match {
        case "append" => acc ++ c.files
        case "overwrite" | "compact" | "merge" => c.files
        case other =>
          throw new IllegalStateException(
            s"unknown commit action '$other' at version $cv")
      }
    }
  }

  /** Snapshot read as of version `v` (time travel). An empty snapshot
    * (only empty commits) is an error — commit data first.
    *
    * Schema evolution: snapshots read with mergeSchema, so a commit
    * that ADDS a column widens the current snapshot (older files
    * surface NULL for the new column) while every pre-evolution
    * version keeps exactly the schema it was written with — its file
    * list contains only pre-evolution files. The footer-merge cost is
    * per-file metadata, not data. */
  def readAsOf(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val files = filesAt(spark, dir, v)
    require(files.nonEmpty, s"snapshot at v=$v of $dir has no files")
    spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => s"$dir/$f"): _*)
  }

  /** Latest-snapshot read. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no commits under $dir")
    readAsOf(spark, dir, vs.last)
  }

  /** Commit history as a DataFrame: (version, action, n_files). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    versions(spark, dir)
      .map(v => readCommit(spark, dir, v))
      .map(c => (c.version, c.action, c.files.size.toLong))
      .toDF("version", "action", "n_files")
  }

  // -- streaming sink ------------------------------------------------

  /** Idempotent append at a CALLER-CHOSEN version — the streaming
    * exactly-once primitive: commit version = micro-batch id, so a
    * REPLAYED batch finds its version already claimed and no-ops
    * (returns false). The atomic create IS the transaction marker; no
    * separate batch-id ledger needed. Requires the caller to use a
    * strictly increasing id per batch (Structured Streaming's
    * batchId contract). */
  def appendAt(df: DataFrame, dir: String, version: Long): Boolean = {
    val spark = df.sparkSession
    if (versions(spark, dir).contains(version)) return false
    // a crashed first attempt may have left data files without a log
    // entry — they are invisible (log-only planning) and NOT deleted:
    // a concurrent replayer's in-flight dir is indistinguishable from
    // a crashed one, and deleting it could strand a just-claimed log
    // record. landData's suffix-dir retry (data/v=N.k) skips occupied
    // dirs instead; orphans stay as unreferenced garbage.
    val files = landData(df, dir, version)
    try {
      writeCommit(spark, dir, Commit(version, "append", files))
      true
    } catch {
      case _: java.io.IOException => false // lost the race: already in
    }
  }

  /** Content diff between two snapshots: per-id
    * added/removed/modified/unchanged by md5 fingerprint
    * (graft.functions.Dedup.snapshotDiff — one narrow full-outer join;
    * payload columns never shuffle). `idCol`/`payloadCol` follow the
    * snapshotDiff contract. */
  def diff(spark: SparkSession, dir: String, fromV: Long, toV: Long,
           idCol: String = "doc_id",
           payloadCol: String = "text"): DataFrame =
    graft.functions.Dedup.snapshotDiff(
      readAsOf(spark, dir, fromV), readAsOf(spark, dir, toV),
      idCol, payloadCol)

  /** VACUUM: drop history BEFORE `keepFromV`. The keepFromV record is
    * first CONSOLIDATED — rewritten as an overwrite listing its full
    * resolved snapshot (so surviving snapshots never depend on dropped
    * append records), then older log entries and every data file no
    * surviving snapshot references are deleted. Time travel to
    * vacuumed versions becomes an error; every version ≥ keepFromV
    * reads byte-identically. Returns the number of data files
    * deleted. Maintenance op: run it without writers racing on the
    * consolidated entry (the rewrite is delete+create, not an atomic
    * claim — readers of versions ≥ keepFromV are unaffected because
    * the data files they resolve to are live throughout). */
  def vacuum(spark: SparkSession, dir: String, keepFromV: Long): Long = {
    val vs = versions(spark, dir)
    require(vs.contains(keepFromV),
      s"keepFromV=$keepFromV is not a committed version of $dir")
    val live = vs.filter(_ >= keepFromV)
      .flatMap(v => filesAt(spark, dir, v)).toSet
    val dead = vs.filter(_ < keepFromV)
      .flatMap(v => readCommit(spark, dir, v).files)
      .distinct.filterNot(live)
    val root = new Path(dir)
    val fs = fsFor(spark, root)
    // consolidate the checkpoint version so it self-describes its
    // full snapshot, independent of the records about to be dropped
    val snapFiles = filesAt(spark, dir, keepFromV)
    fs.delete(logPath(dir, keepFromV), false)
    writeCommit(spark, dir, Commit(keepFromV, "overwrite", snapFiles))
    dead.foreach(f => fs.delete(new Path(s"$dir/$f"), false))
    vs.filter(_ < keepFromV)
      .foreach(v => fs.delete(logPath(dir, v), false))
    dead.size.toLong
  }

  /** OPTIMIZE ZORDER for a versioned table: rewrite the CURRENT
    * snapshot through the z-order cluster writer
    * (graft.functions.Layout.zOrderCluster — range-partition by the
    * Morton key + in-file sort) and commit it as a compaction. Point
    * probes on the new snapshot prune to few files via footer min/max;
    * every pre-OPTIMIZE version stays readable (lossless, like
    * [[compact]]). */
  def compactZOrder(spark: SparkSession, dir: String,
                    xCol: String, yCol: String,
                    targetFiles: Int = 8): Long = {
    val clustered = graft.functions.Layout
      .zOrderCluster(read(spark, dir), xCol, yCol, targetFiles)
      .drop("z")
    commit(clustered, dir, "compact")
  }

  /** Table-maintenance report: one row per committed version — action,
    * file count, total bytes (live files only; vacuumed files report
    * what survives), plus whether the snapshot resolves entirely from
    * this commit (reset points) or accumulates. The small-files signal
    * that schedules [[compact]]/[[vacuum]]: log + FS metadata only,
    * nothing data-sized is read. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(dir)
    val fs = fsFor(spark, root)
    val rows = versions(spark, dir).map { v =>
      val c = readCommit(spark, dir, v)
      val sizes = c.files.map { f =>
        val p = new Path(s"$dir/$f")
        if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
      }
      (v, c.action, c.files.size.toLong, sizes.sum,
        filesAt(spark, dir, v).size.toLong)
    }
    rows.toDF("version", "action", "n_files", "bytes",
      "snapshot_files")
  }

  /** MERGE INTO (the Delta/Iceberg upsert statement) against the
    * CURRENT snapshot:
    *   - WHEN MATCHED AND deleteWhen THEN DELETE
    *   - WHEN MATCHED THEN UPDATE (the source row replaces the target
    *     row wholesale)
    *   - WHEN NOT MATCHED AND NOT deleteWhen THEN INSERT
    * `deleteWhen` is a predicate over the SOURCE schema (evaluated
    * before any internal renaming); an unmatched source row it flags is
    * simply not inserted — the Delta convention. The merged snapshot
    * commits as an overwrite, so every pre-merge version stays
    * time-travel readable and a re-run lands as a new version (the
    * append-only audit property upsert-in-place formats lose).
    *
    * Plan: ONE full-outer join on the keys decides all three branches —
    * no per-branch scans, no row-level point updates; at scale this is
    * the classic copy-on-write merge (Delta's join-based MERGE), and
    * the source side is typically batch-sized → AQE broadcasts it.
    * Returns the committed version. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            keys: Seq[String],
            deleteWhen: Option[Column] = None): Long =
    commit(mergedSnapshot(spark, dir, source, keys, deleteWhen),
      dir, "overwrite")

  /** The merged-snapshot PLAN shared by [[merge]] and [[mergeBatch]]
    * (one full-outer join deciding all three WHEN branches). */
  private def mergedSnapshot(spark: SparkSession, dir: String,
                             source: DataFrame, keys: Seq[String],
                             deleteWhen: Option[Column]): DataFrame = {
    val target = read(spark, dir)
    require(keys.nonEmpty, "merge needs at least one key column")
    require(target.columns.sorted.sameElements(source.columns.sorted),
      s"schema mismatch: target ${target.columns.mkString(",")} vs " +
        s"source ${source.columns.mkString(",")}")
    // `_s_` is the internal rename prefix for the source side of the
    // merge join; a user column already carrying it would pass the
    // schema check above and then silently collide with the renamed
    // source columns, corrupting the merge — fail loudly instead.
    val reserved = target.columns.filter(_.startsWith("_s_"))
    require(reserved.isEmpty,
      s"merge reserves the '_s_' column-name prefix internally; " +
        s"rename: ${reserved.mkString(", ")}")
    val nonKeys = target.columns.filterNot(keys.contains).toSeq
    val sPrepared = nonKeys.foldLeft(
        source.withColumn("_s_del",
          deleteWhen.getOrElse(lit(false)))) {
        (d, c) => d.withColumnRenamed(c, s"_s_$c")
      }
      .withColumn("_s_present", lit(true))
    target.join(sPrepared, keys, "full_outer")
      .filter(!coalesce(col("_s_del"), lit(false)))
      .select(keys.map(col) ++ nonKeys.map(c =>
        when(coalesce(col("_s_present"), lit(false)), col(s"_s_$c"))
          .otherwise(col(c)).as(c)): _*)
      .select(target.columns.map(col): _*)
  }

  /** [[merge]] as an EXACTLY-ONCE streaming landing: the commit record
    * carries the micro-batch id, and a replayed batch (same `batchId` —
    * what foreachBatch redelivers after a crash between sink write and
    * checkpoint commit) is a NO-OP returning the originally committed
    * version. This closes the gap between the two r9 halves: the
    * versioned table had transactional MERGE but no replay protection;
    * the streaming sinks had batch-keyed idempotence but landed plain
    * parquet. Here a streaming upsert gets both — MERGE semantics,
    * commit-log time travel, and at-least-once replay converging to
    * exactly-once table state.
    *
    * Bootstrap: a fresh dir's first batch commits the source itself
    * (minus `deleteWhen` rows) — the standard first-load of a merge
    * sink. Single-writer contract: one streaming query owns the table
    * (Structured Streaming's own sink contract); concurrent ad-hoc
    * writers still serialize through the atomic log-claim. */
  def mergeBatch(spark: SparkSession, dir: String, source: DataFrame,
                 keys: Seq[String], batchId: Long,
                 deleteWhen: Option[Column] = None): Long = {
    val existing = versions(spark, dir)
      .find(v => readCommit(spark, dir, v).batchId.contains(batchId))
    existing.getOrElse {
      if (versions(spark, dir).isEmpty) {
        val first = deleteWhen.fold(source)(d => source.filter(!d))
        commit(first, dir, "merge", Some(batchId))
      } else {
        val merged = mergedSnapshot(spark, dir, source, keys, deleteWhen)
        commit(merged, dir, "merge", Some(batchId))
      }
    }
  }
}
