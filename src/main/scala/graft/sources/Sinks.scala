package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode}

/** Output edges of the engine — the Spark-first versions of the reference's
  * sinks (SURVEY.md §2.1).
  *
  * Idempotency: the reference's blind `INSERT INTO` duplicates rows on
  * re-run (aggregate_orders.sql:6, net_demand_insert.sql:4 — SURVEY.md §4
  * last row). Partitioned writes here use dynamic partition overwrite so a
  * day can be recomputed safely — replacing only the partitions present in
  * the new data, which is exactly the re-run-a-day semantics a 100 TB
  * backfill needs.
  */
object Sinks {

  /** S3/S4 — partitioned Parquet write, snappy (Spark default), dynamic
    * partition overwrite keyed on the date column
    * (reference: trino_init_tables_dag.py:49,65; hdfs_upload_data_dag.py:170). */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String]): Unit = {
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)
    // overwritten partitions invalidate any cached file listing for path
    df.sparkSession.catalog.refreshByPath(path)
  }

  /** Bucketed managed table: co-locates rows by join key so repeated
    * fact⋈fact joins on `bucketCols` need NO shuffle on either side
    * (Exchange-free sort-merge join; see SinksSpec plan assertion). The
    * 100 TB pattern for standing join keys — shuffle once at write time,
    * never again at read time. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int,
                    sortCols: Seq[String] = Nil,
                    path: Option[String] = None): Unit = {
    // explicit path → external table: callers owning a fresh location can
    // recreate the table in a new session without tripping over a managed
    // location left in the warehouse by an earlier JVM
    val w0 = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w1 = path.fold(w0)(p => w0.option("path", p))
    (if (sortCols.nonEmpty) w1.sortBy(sortCols.head, sortCols.tail: _*)
     else w1).format("parquet").saveAsTable(table)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) files. At scale, streaming/minibatch
    * ingestion fragments partitions; compaction restores scan efficiency
    * (fewer tasks, bigger sequential reads). For a Hive-partitioned
    * directory, pass `partitionCols` — the rewrite then PRESERVES the
    * partition layout (repartitioned on the partition columns, one
    * rewrite per run) instead of flattening it into plain files. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              partitionCols: Seq[String] = Nil): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(hPath).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val tmp = path.stripSuffix("/") + "__compact_tmp"
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, spark_partition_id}
    val compacted =
      if (partitionCols.isEmpty) df.coalesce(files)
      else {
        // repartition(partitionCols) alone writes ONE file per partition
        // value — a partition bigger than targetFileBytes would become a
        // single oversized file. Salt with ceil(files / numPartitions)
        // buckets (hash of the data columns, uniform within a partition)
        // so each partition dir splits into ~target-sized files. The
        // distinct count over partition columns is footer-only metadata
        // (column pruning reads no data pages).
        val nParts = math.max(1L,
          df.select(partitionCols.map(col): _*).distinct().count())
        val perPart = math.max(1, math.ceil(files.toDouble / nParts).toInt)
        val dataCols = df.columns.filterNot(partitionCols.contains).map(col)
        val keys = partitionCols.map(col) :+
          (if (perPart == 1) lit(0)
           else pmod(hash(dataCols :+ spark_partition_id(): _*), lit(perPart)))
        df.repartition(files, keys: _*)
      }
    val w = compacted.write.mode(SaveMode.Overwrite)
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(tmp)
    fs.delete(hPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), hPath)
    spark.catalog.refreshByPath(path)
    files
  }

  // ------------------------------------------------------- JSON documents

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + jsonEscape(s) + "\""
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case r: Row => jsonObject(r)
    case seq: scala.collection.Seq[_] =>
      seq.map(jsonValue).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def jsonObject(r: Row, indent: String = ""): String =
    r.schema.fields.zipWithIndex
      .map { case (f, i) => s""""${f.name}": ${jsonValue(r.get(i))}""" }
      .mkString("{", ", ", "}")

  private def prettyObject(r: Row): String = {
    val fields = r.schema.fields.zipWithIndex.map { case (f, i) =>
      s"""  "${f.name}": ${jsonValue(r.get(i))}"""
    }
    fields.mkString("{\n", ",\n", "\n}")
  }

  /** S6 — one JSON purchase-order document per supplier in a date-named
    * directory (procurement_dag.py:135-147: `supplier_<id>.json`).
    *
    * The nested rows are already aggregated to one-per-supplier (a
    * dim-sized frame) — so collecting them to write driver-side files is
    * bounded by supplier count, not data scale; the heavy lifting
    * (grouping/nesting) stayed distributed in Procurement.supplierOrders.
    */
  def writeSupplierOrderJsons(supplierOrders: DataFrame,
                              outDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    supplierOrders.collect().toSeq.map { row =>
      val id = row.getAs[Any]("supplier_id")
      val path = s"$outDir/supplier_$id.json"
      Files.write(Paths.get(path),
        prettyObject(row).getBytes(StandardCharsets.UTF_8))
      path
    }
  }

  /** Q3 — exception log `{date, exception_count, exceptions[]}` JSON
    * (procurement_dag.py:184-189). */
  def writeExceptionLog(exceptions: DataFrame, date: String,
                        outDir: String): String = {
    Files.createDirectories(Paths.get(outDir))
    val rows = exceptions.collect().toSeq
    val items = rows.map(r => jsonObject(r)).mkString("[", ", ", "]")
    val doc =
      s"""{
         |  "date": "${jsonEscape(date)}",
         |  "exception_count": ${rows.size},
         |  "exceptions": $items
         |}""".stripMargin
    val path = s"$outDir/exceptions.json"
    Files.write(Paths.get(path), doc.getBytes(StandardCharsets.UTF_8))
    path
  }

  /** S11 — archival move (procurement_dag.py:197-308's WebHDFS copy, as a
    * Hadoop FileSystem rename — works on HDFS and local FS alike). */
  def archive(spark: org.apache.spark.sql.SparkSession,
              src: String, dest: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    val fs = srcPath.getFileSystem(conf)
    if (!fs.exists(srcPath)) false
    else {
      val parent = destPath.getParent
      if (parent != null) fs.mkdirs(parent)
      fs.rename(srcPath, destPath)
    }
  }
}
