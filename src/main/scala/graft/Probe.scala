package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** The measurement core of the bench mains ([[Bench]], [[BenchOne]],
  * [[Sf10Probe]] and `Explain -run`): their session, the gc+drain
  * barrier before a timing window, the one timed build-plan-run of a
  * registered query, the fixed-load calibration and its gate, and the
  * JSON the mains print and write. Each main keeps only its own policy:
  * which queries, how many passes, which minima and flags.
  *
  * Harness environment variables, each with what sets it:
  *  - `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` (every main): the data
  *    tree and core count; tools/sf1_gate.sh and tools/sf10_probe.sh.
  *  - `SPARK_GRAFT_PASSES`, `SPARK_GRAFT_QUERY_BUDGET_SEC` (Bench) and
  *    `SPARK_GRAFT_RESULTS_FILE` (Bench, Sf10Probe): tools/sf1_gate.sh.
  *  - `SPARK_GRAFT_WARMUP`, `SPARK_GRAFT_GC_SLEEP_MS` (Bench) and
  *    `SPARK_GRAFT_SHUFFLE` (every main, through [[session]]): the
  *    full-suite sf10 sweep (PLANS.md, "First FULL-suite sf10 bench").
  *  - `SF10_BUDGET_SEC` (Sf10Probe): tools/sf10_probe.sh.
  */
object Probe {

  /** The harness session: [[GraftSession.tool]] on `cpus` cores with
    * `SPARK_GRAFT_SHUFFLE` shuffle partitions (default `shuffle`), Spark
    * logging at `logLevel`, and [[quietBoundedWindowWarnings]].
    *
    * Shuffle width scales with the DATA, not the core count: at sf10 a
    * 32-partition shuffle holds ~500 MB+ per partition on the wide
    * joins and spills. On a real cluster maxPartitionBytes + AQE
    * coalescing do this sizing; in a fixed-core bench the config has to
    * (AQE merges small partitions but never splits an oversized
    * non-skew-join partition). */
  def session(cpus: Int, shuffle: Int,
              logLevel: String = "WARN"): SparkSession = {
    val spark = GraftSession.tool(cpus)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", shuffle.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    quietBoundedWindowWarnings()
    spark
  }

  /** Quiet WindowExec's "No Partition Defined" warning for this JVM.
    * The repo has exactly three no-partition window sites and each is
    * certified bounded — ≤10 decile buckets (q226/q228, domain pinned
    * by Round12Spec) and ≤|sources| rows (Mixing.unimaxAllocation, a
    * dim-contract input) — so the warning is a false alarm here, and
    * at ~2 lines per window execution it was ~90% of the bench tail,
    * burying real signals. Scoped to the one logger; every other WARN
    * still surfaces. */
  def quietBoundedWindowWarnings(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case scala.util.control.NonFatal(_) => () } // non-log4j2 env

  /** Drain JVM garbage and give the ContextCleaner `windowMs` to process
    * queued RDD/broadcast cleanups before a timing window opens. The gc
    * itself is ~10 ms; the sleeps let the async cleaner drain; the
    * second gc sweeps objects the first one's reference processing only
    * just unpinned. Shuffle files delete when their RDD is collected: at
    * sf10 a predecessor's undeleted shuffle tree is GBs of page cache
    * squeezing the next window (the r16 probe measured q78 149 s
    * in-suite vs 44 s isolated on a quiet box with zero code
    * difference), and at sf0.1 predecessor checkpoint/broadcast litter
    * billed q61 3.9× (r9) and q185 3.76× (r10) in-suite. */
  def barrier(windowMs: Long): Unit = {
    System.gc(); Thread.sleep(windowMs / 2 + 1)
    System.gc(); Thread.sleep(windowMs / 2 + 1)
  }

  /** Wall seconds of `op`. */
  def seconds(op: => Unit): Double = {
    val t0 = System.nanoTime(); op; (System.nanoTime() - t0) / 1e9
  }

  /** One measured run of a registered query: seconds spent building the
    * DataFrame (analysis included), planning it and executing it; JVM GC
    * seconds within; the rows it produced; the [[TaskCounters]] delta
    * when counters were passed; and the failure, if any. A failed run's
    * seconds are its time to failure, billed to the phase that failed.
    * It holds figures only: a kept plan would pin its shuffle files and
    * broadcasts past the next [[barrier]]. */
  final case class Run(buildSec: Double, planSec: Double, execSec: Double,
                       gcSec: Double, rows: Long, counts: Option[TaskCounts],
                       failure: Option[Throwable]) {
    def sec: Double = buildSec + planSec + execSec
    def failed: Boolean = failure.isDefined
  }

  /** Build, plan and run registered query `name` over `sfDir` in one
    * timing window, behind a [[barrier]] of `barrierMs` (none at 0).
    *
    * The query runs via `queryExecution.toRdd.count()`, which executes
    * the query's own plan in full — a plain `df.count()` would let
    * Catalyst prune expensive projections (md5, minhash, cosine) out of
    * scan-shaped queries and under-report them. Counter events land
    * asynchronously, so the counters are drained before the window opens
    * and again before it is read. `inspect` sees the executed query
    * after the window closes, when the run succeeded. */
  def measure(spark: SparkSession, sfDir: String, name: String,
              barrierMs: Long = 0,
              counters: Option[TaskCounters] = None,
              inspect: QueryExecution => Unit = _ => ()): Run = {
    if (barrierMs > 0) barrier(barrierMs)
    val c0 = counters.map { c => c.drain(); c.snapshot() }
    val g0 = gcSec()
    val marks = scala.collection.mutable.ArrayBuffer(System.nanoTime())
    var qe: Option[QueryExecution] = None
    var rows = -1L
    val failure =
      try {
        qe = Some(SparkEntry.queries(name)(spark, sfDir).queryExecution)
        marks += System.nanoTime()
        qe.get.executedPlan
        marks += System.nanoTime()
        rows = qe.get.toRdd.count()
        None
      } catch { case e: Throwable => Some(e) }
    marks += System.nanoTime()
    val gc = gcSec() - g0
    val counts = counters.zip(c0).map { case (c, s0) =>
      c.drain(); c.snapshot() - s0 }
    // a failed phase bills the rest of the window; later phases are 0
    val t = marks.padTo(4, marks.last).sliding(2)
      .map(p => (p(1) - p(0)) / 1e9).toSeq
    if (failure.isEmpty) qe.foreach(inspect)
    Run(t(0), t(1), t(2), gc, rows, counts, failure)
  }

  /** JVM-wide GC seconds so far, over every collector. */
  private def gcSec(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Fixed-load calibration probe: a data-independent CPU-bound job
    * (xxhash64 fold over a fixed 100M range, min-of-2 after an untimed
    * codegen warmup). Round 8's bench moved 1.71× uniformly vs round 7
    * purely from box contention; reporting this fixed workload's
    * seconds alongside the query numbers lets a reader divide that
    * factor out. Bench and Sf10Probe read it at the start and end of a
    * run — r18 found the probe's two "suspect" heavy rows (q185 651 s,
    * q210 523 s) reproduced in isolation on a contended box (calib 0.52 s
    * vs the 0.063–0.102 s committed steady state), so an artifact
    * without its own contention telemetry cannot be judged at all. */
  def fixedLoadCalib(spark: SparkSession, parallelism: Int): Double = {
    import org.apache.spark.sql.functions.{bit_xor, xxhash64, col}
    def once(): Double = seconds {
      spark.range(0, 100000000L, 1, parallelism)
        .select(bit_xor(xxhash64(col("id")))) // xor fold: no ANSI overflow
        .queryExecution.toRdd.count(): Unit
    }
    once(); math.min(once(), once()) // first run absorbs codegen
  }

  /** Maximum calib_end/steady ratio for a run to mint a CANONICAL
    * committed baseline. r18's official sf0.1 artifact shipped with
    * calib_ratio 2.104 and 7 unadjudicated >2× regression flags that a
    * human had to retire as box contention by hand; a run whose own
    * fixed-load probe ends past this bound self-marks non-canonical so
    * the "scratch artifact deliberately NOT committed" judgment is
    * mechanical, not PLANS.md prose. */
  val CalibGateMaxRatio = 1.5

  /** The calib gate's artifact fields: the box's recorded quiet steady
    * state (`calib_steady_sec`), the run's end calibration over it
    * (`calib_end_vs_steady`), and whether the run may be committed as a
    * baseline (`canonical`; true when no steady state is recorded, as
    * the gate then cannot judge). */
  final case class CalibGate(steadySec: Option[Double],
                             endVsSteady: Option[Double], canonical: Boolean)

  def calibGate(steadySec: Option[Double], calibEnd: Double): CalibGate =
    CalibGate(steadySec, steadySec.collect { case s if s > 0 => calibEnd / s },
      steadySec.forall(s => calibEnd <= CalibGateMaxRatio * s))

  /** Writes `text` and a newline to the results artifact `name`, resolved
    * against the working directory by [[Bench.resultsPath]] (an absolute
    * name is kept as it is), and returns the path written. */
  def writeArtifact(name: String, text: String): java.nio.file.Path =
    java.nio.file.Files.writeString(
      Bench.resultsPath(sys.props("user.dir"), name), text + "\n")

  /** A harness figure: 3 decimals, locale-independent. */
  def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Rendered JSON, spliced into an enclosing object or array as it is. */
  final case class Json(text: String) {
    override def toString: String = text
  }

  /** A JSON object of `fields` in order. Values render by type: Double
    * by [[fmt]], String quoted, a pair as a 2-element array, None as
    * null, Some(x) as x, anything else (integers, booleans, [[Json]]) as
    * it prints. */
  def obj(fields: (String, Any)*): Json =
    Json(fields.map { case (k, v) => quote(k) + ":" + render(v) }
      .mkString("{", ",", "}"))

  /** A JSON array of `values`, rendered as in [[obj]]. */
  def arr(values: Iterable[Any]): Json =
    Json(values.map(render).mkString("[", ",", "]"))

  private def render(v: Any): String = v match {
    case d: Double => fmt(d)
    case s: String => quote(s)
    case (a, b) => arr(Seq(a, b)).text
    case None => "null"
    case Some(x) => render(x)
    case x => x.toString
  }

  private def quote(s: String): String = "\"" + s.flatMap((c: Char) =>
    c match {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }) + "\""
}
