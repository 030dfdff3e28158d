package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String,
                      out: String, setups: Int, cores: Int)

/** JVM side of the benchmark: set up `setups` times (each on a fresh
  * session), warm up, run the closed-loop timed window, then write the op
  * records, raw layer counters and the outputs to check as one JSON file.
  * run.py turns them into metrics and runs the checks.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE --setups K --cores C
  */
object Main {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }
      .toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"),
      m("setups").toInt, m("cores").toInt)
  }

  private def session(o: Opts): SparkSession = {
    val s = GraftSession.builder(s"local[${o.cores}]", o.cores)
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  final case class OpRec(n: Int, label: String, wallS: Double, ok: Boolean,
                         gcMs: Long, mode: Mode)

  final case class Window(ops: Seq[OpRec], elapsedS: Double,
                          heapLiveBytes: Long)

  /** Closed loop, one client: op n+1 starts when op n has returned. The
    * ops run in turns of `modes.size`, all on the same input (turn k runs
    * input k); turn k starts at mode k, so over the turns each mode takes
    * each place in a turn equally often and a drift within the window
    * does not favour one mode. The loop stops at the first turn boundary
    * after `seconds` of ops and at least `minTurns` turns. `prepare` and
    * `around(n, before)` run untimed around each op; their time is kept
    * out of the window. */
  private def timedWindow(wl: Workload, seconds: Double, modes: Seq[Mode],
                          minTurns: Int, t: Option[Tracer],
                          around: (Int, Boolean) => Unit): Window = {
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val t0 = System.nanoTime()
    var untimedNs = 0L
    var n = 0
    def elapsed = (System.nanoTime() - t0 - untimedNs) / 1e9
    def untimed(body: => Unit): Unit = {
      val u = System.nanoTime()
      body
      untimedNs += System.nanoTime() - u
    }
    while (elapsed < seconds || n % modes.size != 0 ||
      n / modes.size < minTurns) {
      val mode = modeOf(modes, n)
      untimed { wl.prepare(n); around(n, true) }
      val g0 = gcMs
      val s = System.nanoTime()
      val tr = if (mode == Mode.Plain) None else t
      val (label, ok) =
        try {
          val k = n / modes.size
          (tr match {
            case Some(x) => x.op(n)(wl.op(n, k, mode, tr))
            case None => wl.op(n, k, mode, None)
          }, true)
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op $n failed: $e")
            e.printStackTrace()
            (s"op-$n", false)
        }
      recs += OpRec(n, label, (System.nanoTime() - s) / 1e9, ok, gcMs - g0,
        mode)
      untimed(around(n, false))
      n += 1
    }
    val el = elapsed
    // heap the process retains once the ops are done: used heap right
    // after a full collection (unlike a peak of used heap, it does not
    // depend on when the collector happened to run)
    System.gc()
    Window(recs.toSeq, el,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  private def modeOf(modes: Seq[Mode], n: Int): Mode =
    modes((n + n / modes.size) % modes.size)

  private def windowJson(w: Window): Map[String, Any] = Map(
    "elapsed_s" -> w.elapsedS,
    "heap_live_bytes" -> w.heapLiveBytes,
    "ops" -> w.ops.map(r => Map("n" -> r.n, "label" -> r.label,
      "wall_s" -> r.wallS, "ok" -> r.ok, "gc_ms" -> r.gcMs,
      "mode" -> r.mode.name)))

  /** Per-op layer counters of the traced window. */
  private def layersJson(t: Tracer, w: Window,
                         fileDelta: Map[Int, Long], state: Map[Int, Long],
                         standing: Map[Int, Long]): Seq[Map[String, Any]] =
    w.ops.filter(_.mode != Mode.Plain).map { r =>
      val l = t.layersOf(r.n)
      val (a, b) = t.window(r.n).getOrElse((0L, 0L))
      val spans = t.spanList.filter(s => s.op == r.n && s.name != "op")
      val byName = spans.groupBy(_.name).map { case (k, v) =>
        k -> v.map(s => s.endMs - s.startMs).sum / 1e3 }
      l.synchronized {
        Map("n" -> r.n, "mode" -> r.mode.name, "wall_s" -> r.wallS,
          "jvm_gc_s" -> r.gcMs / 1e3,
          "jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
          "failed_tasks" -> l.failedTasks, "delay_s" -> l.delayMs / 1e3,
          "run_s" -> l.runMs / 1e3, "cpu_s" -> l.cpuNs / 1e9,
          "gc_s" -> l.gcMs / 1e3, "shuffle_read_bytes" -> l.shuffleRead,
          "shuffle_write_bytes" -> l.shuffleWrite, "spill_bytes" -> l.spill,
          "input_bytes" -> l.inputBytes, "output_bytes" -> l.outputBytes,
          "output_files" -> fileDelta.getOrElse(r.n, 0L),
          "state_bytes" -> state.getOrElse(r.n, 0L),
          "standing_bytes" -> standing.getOrElse(r.n, 0L),
          "executions" -> l.executions, "exchanges" -> l.exchanges,
          "analysis_s" -> l.analysisMs / 1e3,
          "optimization_s" -> l.optimizationMs / 1e3,
          "planning_s" -> l.planningMs / 1e3,
          "busy_s" -> t.covered(l.busy.toSeq, a, b) / 1e3,
          "spans" -> byName)
      }
    }

  /** Set up `setups` times, warm up (untimed) in the last set-up session,
    * run the timed window there, write the result file. With --trace 1 the
    * window is twice as long and its ops take the workload's traced modes
    * in turn (untraced among them), so the modes share JIT and cache state
    * and run on the same inputs; their difference is the trace overhead. */
  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workload(o)
    var spark: SparkSession = null
    val setupS = (0 until o.setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(o)
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmupS = (System.nanoTime() - w0) / 1e9
    try {
      val result = mutable.LinkedHashMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
        "setup_s" -> setupS, "warmup_s" -> warmupS)
      val window = if (!o.trace) {
        timedWindow(wl, o.seconds, Seq(Mode.Plain), 1, None, (_, _) => ())
      } else {
        val t = new Tracer(spark)
        t.register()
        val outDir = new java.io.File(s"${o.work}/out")
        val files = mutable.Map.empty[Int, Long]
        val state = mutable.Map.empty[Int, Long]
        val standing = mutable.Map.empty[Int, Long]
        val modes = wl.tracedModes
        // files landed and state held per traced op, counted between ops
        var f0 = 0L
        def around(n: Int, before: Boolean): Unit =
          if (modeOf(modes, n) != Mode.Plain) {
            if (before) f0 = Workload.fileCount(outDir)
            else {
              files(n) = Workload.fileCount(outDir) - f0
              state(n) = wl.stateBytes(n)
              standing(n) = graft.sources.Standing.storageBytes(spark)
                .productIterator.map(_.asInstanceOf[Long]).sum
            }
          }
        val w = timedWindow(wl, 2 * o.seconds, modes, TracedTurns, Some(t),
          around)
        t.drain()
        t.unregister()
        result("layers") = layersJson(t, w, files.toMap, state.toMap,
          standing.toMap)
        val spans = t.spanList.map(s => Map("op" -> s.op, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs))
        Files.writeString(Paths.get(s"${o.work}/spans.json"),
          json.writeValueAsString(spans))
        w
      }
      result("window") = windowJson(window)
      result("bytes_written") = wl.bytesWritten
      result("bytes_input") = wl.bytesInput
      val o0 = System.nanoTime()
      result("outputs") = wl.outputs()
      result("outputs_s") = (System.nanoTime() - o0) / 1e9
      Files.writeString(Paths.get(o.out), json.writeValueAsString(result))
    } finally spark.stop()
  }

  /** Least number of turns of the traced modes in a traced window, so
    * every mode has a median of three. */
  private val TracedTurns = 3
}
