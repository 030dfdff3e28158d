package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text", "lang")
  private def wave(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("append/overwrite/compact with full time travel") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable").toString
    assert(VersionedTable.versions(spark, dir).isEmpty)

    val v0 = VersionedTable.append(wave(0), dir)
    val v1 = VersionedTable.append(wave(1), dir)
    assert((v0, v1) == ((0L, 1L)))
    assert(ids(VersionedTable.read(spark, dir))
      == ids(wave(0)) ++ ids(wave(1)))
    // time travel: v0 still reads exactly wave 0
    assert(ids(VersionedTable.readAsOf(spark, dir, 0)) == ids(wave(0)))

    val v2 = VersionedTable.overwrite(wave(2).repartition(4), dir)
    assert(v2 == 2L)
    assert(ids(VersionedTable.read(spark, dir)) == ids(wave(2)))
    // overwrite hides, never deletes: v1 snapshot intact
    assert(ids(VersionedTable.readAsOf(spark, dir, 1))
      == ids(wave(0)) ++ ids(wave(1)))

    // compaction rewrites the snapshot into one file, content-equal,
    // and the pre-compaction version stays readable
    val before = VersionedTable.filesAt(spark, dir, 2)
    assert(before.size == 4)
    val v3 = VersionedTable.compact(spark, dir)
    assert(v3 == 3L)
    assert(VersionedTable.filesAt(spark, dir, 3).size == 1)
    assert(ids(VersionedTable.readAsOf(spark, dir, 3)) == ids(wave(2)))
    assert(VersionedTable.filesAt(spark, dir, 2) == before)

    val hist = VersionedTable.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(hist == Seq((0L, "append", hist.head._3),
      (1L, "append", hist(1)._3), (2L, "overwrite", 4L),
      (3L, "compact", 1L)))
  }

  test("uncommitted data files are invisible (log-only planning)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-iso").toString
    VersionedTable.append(wave(0), dir)
    // a crashed writer landed data but never claimed a log entry
    wave(1).write.parquet(s"$dir/data/v=99")
    assert(VersionedTable.versions(spark, dir) == Seq(0L))
    assert(ids(VersionedTable.read(spark, dir)) == ids(wave(0)))
  }

  test("the version claim is atomic: second create of the same log " +
    "entry throws (optimistic concurrency primitive)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-occ").toString
    val p = new org.apache.hadoop.fs.Path(s"$dir/_log/7.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    out.write("{}".getBytes("UTF-8")); out.close()
    intercept[java.io.IOException] {
      fs.create(p, false)
    }
  }

  test("appendAt is exactly-once: a replayed batch id no-ops, a " +
    "crashed half-write is rewritten cleanly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-eo").toString
    assert(VersionedTable.appendAt(wave(0), dir, 0L))
    // crashed attempt for batch 1: data landed, log never claimed
    wave(1).write.parquet(s"$dir/data/v=1")
    assert(VersionedTable.appendAt(wave(1), dir, 1L)) // retry succeeds
    assert(ids(VersionedTable.read(spark, dir))
      == ids(wave(0)) ++ ids(wave(1)))
    // replay of batch 1: version already claimed → no-op
    assert(!VersionedTable.appendAt(wave(1), dir, 1L))
    assert(VersionedTable.versions(spark, dir) == Seq(0L, 1L))
    assert(ids(VersionedTable.read(spark, dir))
      == ids(wave(0)) ++ ids(wave(1)))
  }

  test("streaming sink: micro-batches land as exactly-once commits; " +
    "restart adds nothing") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-vtable-sink").toString
    val src = s"$base/src"; new java.io.File(src).mkdirs()
    val table = s"$base/table"; val ckpt = s"$base/ckpt"
    def stage(i: Int): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft-vts-w$i").toString
      wave(i).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$src/wave$i.parquet"))
    }
    def runOnce(): Unit =
      graft.streaming.VersionedState.ingest(
        spark.readStream.schema(docs.schema).parquet(src), ckpt) {
        (batch, batchId) => VersionedTable.appendAt(batch, table, batchId): Unit
      }.awaitTermination(120000)
    stage(0); runOnce()
    stage(1); runOnce()
    spark.catalog.refreshByPath(table)
    assert(ids(VersionedTable.read(spark, table))
      == ids(wave(0)) ++ ids(wave(1)))
    // restart with nothing new: no new commits
    val before = VersionedTable.versions(spark, table)
    runOnce()
    assert(VersionedTable.versions(spark, table) == before)
  }

  test("compactZOrder: lossless z-ordered rewrite — content equal, " +
    "history intact, clustered files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-zo").toString
    val pts = docs.select(col("doc_id"),
      (col("doc_id") % 100).as("x"), (col("doc_id") % 97).as("y"))
    VersionedTable.append(pts.repartition(6), dir)
    val v = VersionedTable.compactZOrder(spark, dir, "x", "y",
      targetFiles = 4)
    assert(v == 1L)
    val a = VersionedTable.readAsOf(spark, dir, 0)
    val b = VersionedTable.readAsOf(spark, dir, 1)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    assert(b.columns.toSeq == pts.columns.toSeq) // no layout column leak
    assert(VersionedTable.filesAt(spark, dir, 1).size <= 4)
    assert(VersionedTable.history(spark, dir).collect()
      .map(_.getString(1)).toSeq == Seq("append", "compact"))
  }

  test("diff between snapshots reports added/removed/unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-diff").toString
    VersionedTable.append(wave(0), dir)                    // v0
    VersionedTable.overwrite(wave(0).unionByName(wave(1))
      .filter(col("doc_id") > 10), dir)                    // v1
    val d = VersionedTable.diff(spark, dir, 0, 1)
      .groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w0 = ids(wave(0)); val w1 = ids(wave(1))
    assert(d.getOrElse("added", 0L) == w1.count(_ > 10))
    assert(d.getOrElse("removed", 0L) == w0.count(_ <= 10))
    assert(d.getOrElse("unchanged", 0L) == w0.count(_ > 10))
    assert(d.getOrElse("modified", 0L) == 0L)
  }

  test("vacuum: consolidates the checkpoint version, drops dead files " +
    "and history; surviving snapshots read byte-identically") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-vac").toString
    VersionedTable.append(wave(0), dir)          // v0 (append-only head)
    VersionedTable.append(wave(1), dir)          // v1
    VersionedTable.overwrite(wave(2), dir)       // v2 (orphans v0/v1 data)
    VersionedTable.append(wave(0), dir)          // v3
    val v3Before = ids(VersionedTable.readAsOf(spark, dir, 3))

    // checkpoint at v1: v0's append files are still LIVE through v1's
    // snapshot — consolidation must keep them even though v0's log
    // entry is dropped
    val deleted1 = VersionedTable.vacuum(spark, dir, keepFromV = 1)
    assert(deleted1 == 0L, "append-only prefix has no dead files")
    assert(VersionedTable.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(ids(VersionedTable.readAsOf(spark, dir, 1))
      == ids(wave(0)) ++ ids(wave(1)), "consolidated snapshot broke")
    intercept[IllegalArgumentException] {
      VersionedTable.readAsOf(spark, dir, 0)
    }

    // checkpoint at v2: v0/v1 data is now truly dead and gets deleted
    val deleted2 = VersionedTable.vacuum(spark, dir, keepFromV = 2)
    assert(deleted2 > 0L)
    assert(VersionedTable.versions(spark, dir) == Seq(2L, 3L))
    assert(ids(VersionedTable.readAsOf(spark, dir, 2)) == ids(wave(2)))
    assert(ids(VersionedTable.readAsOf(spark, dir, 3)) == v3Before)
    // the dead files are physically gone
    val dataDirs = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    assert(!dataDirs.contains("v=0") ||
      new java.io.File(s"$dir/data/v=0").listFiles()
        .count(_.getName.endsWith(".parquet")) == 0)
  }

  test("schema evolution: an added column widens the merged snapshot; " +
    "pre-evolution versions keep their written schema") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-schema").toString
    VersionedTable.append(wave(0), dir)
    VersionedTable.append(
      wave(1).withColumn("quality_bp", col("doc_id") % 100), dir)
    val merged = VersionedTable.read(spark, dir)
    assert(merged.columns.contains("quality_bp"))
    // old rows surface NULL for the evolved column
    val w0ids = ids(wave(0))
    val nulls = merged.filter(col("quality_bp").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nulls == w0ids)
    // time travel below the evolution point: original schema exactly
    assert(VersionedTable.readAsOf(spark, dir, 0).columns.toSeq
      == wave(0).columns.toSeq)
  }

  test("sequential writers never clobber: versions are distinct and " +
    "monotone") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-seq").toString
    val vs = (0 until 3).map(i => VersionedTable.append(wave(i % 3), dir))
    assert(vs == Seq(0L, 1L, 2L))
    assert(VersionedTable.versions(spark, dir) == Seq(0L, 1L, 2L))
  }

  test("merge: matched rows update, unmatched insert, deleteWhen drops " +
    "matched targets and suppresses flagged inserts; pre-merge " +
    "versions stay readable") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-merge").toString
    val base = Seq((1L, "one", "en"), (2L, "two", "en"),
      (3L, "three", "en")).toDF("doc_id", "text", "lang")
    VersionedTable.append(base, dir)
    val source = Seq(
      (2L, "TWO v2", "de"),     // matched -> update
      (3L, "DELETE ME", "xx"),  // matched + deleteWhen -> delete
      (4L, "four", "en"),       // unmatched -> insert
      (5L, "SKIP ME", "xx"))    // unmatched + deleteWhen -> no insert
      .toDF("doc_id", "text", "lang")
    val v = VersionedTable.merge(spark, dir, source, Seq("doc_id"),
      deleteWhen = Some(col("lang") === "xx"))
    assert(v == 1L)
    val got = VersionedTable.read(spark, dir)
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(got == Seq((1L, "one", "en"), (2L, "TWO v2", "de"),
      (4L, "four", "en")))
    // time travel: the pre-merge snapshot is intact
    assert(VersionedTable.readAsOf(spark, dir, 0)
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      == Seq((1L, "one", "en"), (2L, "two", "en"), (3L, "three", "en")))
    // merge is re-runnable: same source again lands v2 with the same
    // snapshot (idempotent content, append-only audit)
    val v2 = VersionedTable.merge(spark, dir, source, Seq("doc_id"),
      deleteWhen = Some(col("lang") === "xx"))
    assert(v2 == 2L)
    assert(VersionedTable.read(spark, dir)
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
      == got)
  }

  test("stats: one row per version with action, live file counts and " +
    "snapshot resolution size") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-stats").toString
    VersionedTable.append(wave(0), dir)
    VersionedTable.append(wave(1), dir)
    VersionedTable.compact(spark, dir, targetFiles = 1)
    val st = VersionedTable.stats(spark, dir)
      .orderBy("version")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(st.map(r => (r._1, r._2)) ==
      Seq((0L, "append"), (1L, "append"), (2L, "compact")))
    // appends accumulate: v1's snapshot spans both commits' files
    assert(st(1)._5 == st(0)._3 + st(1)._3)
    // the compaction resets: snapshot == its own single file
    assert(st(2)._3 == 1L && st(2)._5 == 1L)
    assert(st.forall(_._4 > 0L))
  }

  test("merge: schema mismatch and empty keys are rejected loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vtable-merge2").toString
    VersionedTable.append(
      Seq((1L, "a")).toDF("doc_id", "text"), dir)
    val bad = Seq((1L, "a", "extra")).toDF("doc_id", "text", "other")
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir, bad, Seq("doc_id"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, dir,
        Seq((1L, "a")).toDF("doc_id", "text"), Seq.empty)
    }
  }
}
