package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.operators.{Procurement, Replay}
import graft.sources.Sinks
import graft.streaming.{DocumentStreams, SketchStreams}

/** How an op runs. `Plain`: untraced. `Call`: the workload's public calls
  * under the Tracer (job group, listeners, spans around the calls).
  * `Composed` (daily_batch): `Pipeline.runDay`'s stages called one by one,
  * each in a span, so the per-stage split can be read. */
sealed trait Mode { def name: String }
object Mode {
  case object Plain extends Mode { val name = "plain" }
  case object Call extends Mode { val name = "call" }
  case object Composed extends Mode { val name = "composed" }
}

/** One closed-loop workload: op n is one public call (or one wave of
  * calls) on input k, and the harness starts op n+1 only after op n
  * returned. */
trait Workload {
  /** Modes of the traced window, taken in turn; every turn runs on the
    * same input, so the modes are compared on equal work. */
  def tracedModes: Seq[Mode] = Seq(Mode.Plain, Mode.Call)

  /** On a fresh session: register the inputs and build what the program
    * builds before it serves (dims, bootstrap state). Timed; run several
    * times per run. */
  def setup(spark: SparkSession): Unit

  /** Warm-up after the last setup, in the session the timed ops use;
    * untimed, so the timed ops pay neither JIT compilation nor first-use
    * costs of the session. */
  def warmUp(): Unit

  /** Untimed preparation of op n (restoring the state it starts from). */
  def prepare(n: Int): Unit = ()

  /** Op n on the k-th input, traced through `t` unless `mode` is Plain.
    * Returns the op's label (day, slice). */
  def op(n: Int, k: Int, mode: Mode, t: Option[Tracer]): String

  /** Outputs of the run for the output checks, written once after the
    * timing windows. */
  def outputs(): Map[String, Any]

  /** Bytes landed on storage by the ops, and bytes of input they consumed
    * (for bytes_written_per_input_byte). */
  def bytesWritten: Long
  def bytesInput: Long

  /** Size of the tables and state op n left behind. */
  def stateBytes(n: Int): Long
}

object Workload {
  def apply(o: Opts): Workload = o.workload match {
    case "daily_batch" => new DailyBatch(o)
    case "incremental_waves" => new IncrementalWaves(o)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** `body` in a span named `name` of op n when traced. */
  def span[T](t: Option[Tracer], n: Int, name: String)(body: => T): T =
    t.fold(body)(_.span(n, name)(body))

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  def fileCount(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles).toSeq.flatten.map(fileCount).sum

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
    f.delete()
  }

  def copyTree(from: File, to: File): Unit = {
    val src = from.toPath
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { (p: Path) =>
      val dst = to.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}

/** One generated day through `Pipeline.runDay`: aggregate → net demand →
  * per-supplier JSON purchase orders → data-quality exception log. */
final class DailyBatch(o: Opts) extends Workload {
  private val base = s"${o.data}/base"
  private val daily = s"${o.data}/daily"
  /** days before the timed ones, listed by the generator */
  val warmDays: Seq[LocalDate] = scala.io.Source
    .fromFile(s"$daily/warmup.txt").getLines().map(LocalDate.parse).toSeq
  val days: Seq[LocalDate] = new File(s"$daily/orders").list().toSeq
    .filter(_.startsWith("order_date=")).map(d => LocalDate.parse(d.drop(11)))
    .filterNot(warmDays.contains).sorted
  private val out = s"${o.work}/out"
  private var spark: SparkSession = _
  private var orders, inventory, products, suppliers, ps: DataFrame = _
  /** (op, day, Result) of every timed op */
  private val results =
    mutable.ArrayBuffer.empty[(Int, LocalDate, Pipeline.Result)]

  override def tracedModes: Seq[Mode] =
    Seq(Mode.Plain, Mode.Call, Mode.Composed)

  private def conf(root: String, d: LocalDate) = Pipeline.Config(
    s"$root/warehouse", s"$root/output", s"$root/logs", d,
    "2024-01-01T00:00:00")

  private def dayOf(k: Int): LocalDate = days(k % days.size)

  def setup(s: SparkSession): Unit = {
    spark = s
    orders = spark.read.parquet(s"$daily/orders")
    inventory = spark.read.parquet(s"$daily/inventory")
    products = Replay.products(spark, base)
    suppliers = Replay.suppliers(spark, base)
    ps = Replay.productSuppliers(spark, base)
  }

  /** The warm-up days, landed outside the timed output tree. */
  def warmUp(): Unit = warmDays.foreach(d =>
    Pipeline.runDay(spark, orders, inventory, products, suppliers, ps,
      conf(s"${o.work}/warmup", d)))

  def op(n: Int, k: Int, mode: Mode, t: Option[Tracer]): String = {
    val d = dayOf(k)
    val r = mode match {
      case Mode.Composed => composed(n, d, t.get)
      case _ => Pipeline.runDay(spark, orders, inventory, products,
        suppliers, ps, conf(out, d))
    }
    results += ((n, d, r))
    d.toString
  }

  /** `Pipeline.runDay`'s stages called one by one, in its order
    * (Pipeline.scala: aggregate, net demand, export, quality), each in a
    * span; the DataFrame builders sit in construct spans. Returns the
    * Result runDay would, so the output checks cover these ops too. */
  private def composed(n: Int, d: LocalDate, t: Tracer): Pipeline.Result = {
    val c = conf(out, d)
    def build[T](body: => T): T = t.span(n, "operators.construct")(body)
    val aggCount = t.span(n, "Pipeline.aggregate") {
      val agg = build(Procurement.aggregateOrders(orders, d))
      Sinks.writePartitionedParquet(agg,
        s"${c.warehouseDir}/aggregated_orders", Seq("order_date"))
      agg.count()
    }
    val (nd, ndCount) = t.span(n, "Pipeline.net_demand") {
      val nd = build(Procurement.netDemandForInsert(
        orders, inventory, products, suppliers, ps, d).cache())
      Sinks.writePartitionedParquet(nd,
        s"${c.warehouseDir}/net_demand", Seq("calculation_date"))
      (nd, nd.count())
    }
    val files = t.span(n, "Pipeline.export") {
      val docs = build(Procurement.supplierOrders(nd, d, c.orderDate,
        c.generatedAt))
      Sinks.writeSupplierOrderJsons(docs,
        s"${c.outputDir}/supplier_orders/${c.orderDate}")
    }
    t.span(n, "Pipeline.quality") {
      val exc = build(Procurement.exceptions(orders, inventory, ps, d))
      val excCount = exc.count()
      val logPath =
        if (excCount > 0)
          Some(Sinks.writeExceptionLog(exc, d.toString,
            s"${c.logsDir}/exceptions/$d"))
        else None
      nd.unpersist()
      Pipeline.Result(aggCount, ndCount, files, excCount, logPath)
    }
  }

  def outputs(): Map[String, Any] =
    Map("base" -> base, "daily" -> daily, "warehouse" -> s"$out/warehouse",
      "output" -> s"$out/output",
      "results" -> results.toSeq.map { case (n, d, r) =>
        Map("n" -> n, "day" -> d.toString,
          "aggregated_orders" -> r.aggregatedOrders,
          "net_demand_rows" -> r.netDemandRows,
          "exported_files" -> r.exportedFiles.size,
          "exception_count" -> r.exceptionCount)
      })

  def bytesWritten: Long = Workload.dirBytes(new File(out))
  def stateBytes(n: Int): Long =
    Workload.dirBytes(new File(s"$out/warehouse"))
  def bytesInput: Long = results.map(_._2).distinct.map { d =>
    Workload.dirBytes(new File(s"$daily/orders/order_date=$d")) +
      Workload.dirBytes(new File(s"$daily/inventory/snapshot_date=$d"))
  }.sum
}

/** Micro-batch waves over standing state. The set-up streams wave 0, the
  * prefix, as batch 0: `DocumentStreams.curateBatch` grows the standing
  * near-dup index, `SketchStreams.cooccurBatch` writes state v=0. Op n
  * starts from a copy of that state (restored untimed) and streams the
  * next equal-sized slice as batch 1 — curateBatch probes and grows the
  * index, cooccurBatch reads v=0 and writes v=1 — then reads
  * `latestCooccurrence`. Every op is the same amount of work against the
  * same index size; the slices rotate so no two consecutive inputs are
  * the same data. */
final class IncrementalWaves(o: Opts) extends Workload {
  private val root = s"${o.data}/waves"
  /** equal slices after the prefix (waves 1..slices) */
  val slices: Int =
    new File(s"$root/docs").list().count(_.startsWith("wave=")) - 1
  private val out = s"${o.work}/out"
  private val boot = new File(s"$out/boot")
  private var spark: SparkSession = _
  private var eval: DataFrame = _
  /** (op, slice, latestCooccurrence rows) of every timed op */
  private val ran =
    mutable.ArrayBuffer.empty[(Int, Int, Seq[(String, String, Long)])]

  private def opDir(n: Int) = new File(s"$out/op=$n")
  private def sliceOf(k: Int) = k % slices + 1

  def setup(s: SparkSession): Unit = {
    spark = s
    eval = spark.read.parquet(s"$root/eval").select("doc_id", "text")
    Workload.rm(boot)
    wave(0, 0L, boot.getPath, None, -1)
  }

  /** Two slices, each onto a copy of the prefix state, outside the timed
    * output tree. */
  def warmUp(): Unit = (1 to 2).foreach { k =>
    val dir = new File(s"${o.work}/warmup/$k")
    Workload.copyTree(boot, dir)
    wave(k, 1L, dir.getPath, None, -1)
    SketchStreams.latestCooccurrence(spark, s"$dir/state").collect()
  }

  override def prepare(n: Int): Unit = {
    Workload.rm(opDir(n))
    Workload.copyTree(boot, opDir(n))
  }

  private def wave(k: Int, batch: Long, dir: String, t: Option[Tracer],
                   n: Int): Unit = {
    Workload.span(t, n, "streaming.curate_batch") {
      DocumentStreams.curateBatch(
        spark.read.parquet(s"$root/docs/wave=$k"), batch, eval,
        s"$dir/index", s"$dir/pairs", s"$dir/curated",
        minJaccardBp = IncrementalWaves.MinJaccardBp)
    }
    Workload.span(t, n, "streaming.cooccur_batch") {
      SketchStreams.cooccurBatch(
        spark.read.parquet(s"$root/events/wave=$k"), batch, s"$dir/state")
    }
  }

  def op(n: Int, k: Int, mode: Mode, t: Option[Tracer]): String = {
    val s = sliceOf(k)
    val dir = opDir(n).getPath
    wave(s, 1L, dir, t, n)
    val rows = Workload.span(t, n, "streaming.latest_read") {
      val df = Workload.span(t, n, "operators.construct")(
        SketchStreams.latestCooccurrence(spark, s"$dir/state"))
      df.collect().toSeq.map(r => (r.getString(0), r.getString(1),
        r.getLong(2)))
    }
    ran += ((n, s, rows))
    s"slice=$s"
  }

  /** The one-shot keep-first policy (the batch twin StreamingSpec pins
    * streaming curation to) over the prefix and the slices the ops ran:
    * per-doc verdicts (quality ∧ clean) and the near-duplicate pairs. A
    * pair depends only on its two docs, so the checks restrict both to
    * the prefix plus one slice to get the twin of each op. */
  def outputs(): Map[String, Any] = {
    val docs = (0 +: ran.map(_._2).distinct.toSeq).map(k => spark.read
      .parquet(s"$root/docs/wave=$k").select("doc_id", "text"))
      .reduce(_ unionByName _)
    val kept = graft.functions.TextAnalysis.qualityVerdict(docs)
      .filter(col("keep")).select("doc_id")
    val clean = graft.functions.Dedup.contamination(docs, eval)
      .filter(col("n_contaminated") === 0).select("doc_id")
    kept.join(clean, Seq("doc_id"), "left_semi").coalesce(1).write
      .mode("overwrite").parquet(s"${o.work}/check/keep")
    graft.functions.Dedup.nearDuplicatesPortable(
        docs, "doc_id", "text", shingleN = 3, bands = 4, rowsPerBand = 4,
        minJaccardBp = IncrementalWaves.MinJaccardBp)
      .select("id_a", "id_b").coalesce(1).write.mode("overwrite")
      .parquet(s"${o.work}/check/pairs")
    Map("root" -> root, "keep" -> s"${o.work}/check/keep",
      "pairs" -> s"${o.work}/check/pairs",
      "ops" -> ran.toSeq.map { case (n, s, rows) =>
        Map("n" -> n, "slice" -> s,
          "curated" -> s"${opDir(n)}/curated", "cooccur" -> rows)
      },
      "cooccur_sql" -> SparkEntry.oracleSql("q214_streamed_cooccur"))
  }

  /** Bytes each op landed on top of its copy of the prefix state. */
  def bytesWritten: Long = {
    val b = Workload.dirBytes(boot)
    ran.map { case (n, _, _) => Workload.dirBytes(opDir(n)) - b }.sum
  }
  def bytesInput: Long = ran.map { case (_, s, _) =>
    Workload.dirBytes(new File(s"$root/docs/wave=$s")) +
      Workload.dirBytes(new File(s"$root/events/wave=$s"))
  }.sum
  def stateBytes(n: Int): Long =
    Workload.dirBytes(new File(s"${opDir(n)}/index")) +
      Workload.dirBytes(new File(s"${opDir(n)}/state"))
}

object IncrementalWaves {
  val MinJaccardBp = 2000L
}
