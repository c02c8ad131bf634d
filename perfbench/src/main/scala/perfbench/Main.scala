package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** One benchmark operation as the client saw it. A failed operation keeps
  * its record (it counts as attempted) but never contributes a latency. */
final case class OpRecord(req: Int, kind: String, name: String, startMs: Double,
    endMs: Double, ok: Boolean, traced: Boolean, userBytes: Long = 0L, error: String = "")

object OpRecord {
  def failed(req: Int, kind: String, name: String, startMs: Double, endMs: Double,
      e: Exception, userBytes: Long = 0L): OpRecord =
    OpRecord(req, kind, name, startMs, endMs, ok = false, traced = false, userBytes = userBytes,
      error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
}

/** What a workload sees of the running benchmark. */
final class Ctx(val data: String, val work: String, val seed: Long,
    val tracer: Tracer, val args: Map[String, String]) {
  private var session: SparkSession = _
  def spark: SparkSession = {
    if (session == null || session.sparkContext.isStopped) session = Ctx.newSession(work)
    session
  }
  def nowMs: Double = System.nanoTime() / 1e6
  /** Set-up-time counts (provisioning), recorded whatever the trace mode. */
  val setupCounts: mutable.Map[String, Double] = mutable.Map[String, Double]()
}

object Ctx {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** The engine's own session configuration, with every path the session
    * writes kept inside the benchmark's work directory. */
  def newSession(work: String): SparkSession = {
    val s = graft.SessionFactory.configure(
      SparkSession.builder().master(s"local[$Cores]"), "perfbench", Cores)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.catalog.graft_snap.warehouse", s"$work/snap")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait Workload {
  /** Provisioning, one-time builds, warm-up and the correctness dumps that
    * warm-up produces. Counted in `setup_s`. */
  def setup(): Unit
  /** Run the next operation of the closed loop. */
  def runOne(req: Int): OpRecord
  /** True between rounds: a window only ends on a round boundary, so every
    * run measures whole rounds and the operation mix is the same for every
    * seed. */
  def atRoundEnd: Boolean
  /** Rounds a window runs at least, whatever the time: a host that runs a
    * round slower than `--seconds` still measures the same work. */
  def minRounds: Int
  /** Rounds a window runs at most (an even number, at least `minRounds`). */
  def maxRounds: Int = Int.MaxValue
  /** After the measured window: write what the output check needs. */
  def finish(): Map[String, Any] = Map.empty
}

/** A fixed single-threaded CPU loop, timed before and after the measured
  * window with the engine idle: how fast this host ran around the window.
  * It touches no engine code and allocates nothing. */
object Calibration {
  private var sink = 0L
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Wait (at most 10 s) until the engine is idle: every listener event
    * delivered, no Spark job active, and the whole process using under a
    * fifth of one core for 100 ms, so work the engine left running does not
    * slow the loop. Returns the seconds waited. */
  def awaitIdle(sc: SparkContext): Double = {
    val t0 = System.nanoTime()
    var idle = false
    while (!idle && System.nanoTime() - t0 < 10e9) {
      org.apache.spark.PerfbenchBus.drain(sc)
      val cpu0 = os.getProcessCpuTime
      Thread.sleep(100)
      idle = sc.statusTracker.getActiveJobIds.isEmpty && os.getProcessCpuTime - cpu0 < 20e6
    }
    (System.nanoTime() - t0) / 1e9
  }

  def sample(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e9
  }
}

/** `perfbench.Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  * --seed N --out FILE [--lanes a,b,...] [--specs DIR]`: set up, run one
  * closed-loop client for at least S seconds of whole rounds, and write the
  * raw run record to FILE. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val seconds = args("seconds").toDouble
    val tracer = new Tracer(false)
    val ctx = new Ctx(args("data"), args("work"), args("seed").toLong, tracer, args)
    val wl: Workload = args("workload") match {
      case "interactive_sql" => new Lanes(ctx, args("lanes").split(",").toSeq)
      case "lake_writes" => new Lake(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] $name at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    phase("setup done")
    (1 to 5).foreach(_ => Calibration.sample())
    val idleS = mutable.ArrayBuffer(Calibration.awaitIdle(ctx.spark.sparkContext))
    val calib = mutable.ArrayBuffer.fill(10)(Calibration.sample())

    val ops = mutable.ArrayBuffer[OpRecord]()
    var req = 0
    // The closed loop runs whole rounds: at least `minRounds` of them, and
    // more while under `seconds` have passed, up to `maxRounds`. A traced
    // run alternates untraced and traced rounds (an even number of them),
    // so the two halves see the same warm-up drift and their difference is
    // the tracing overhead.
    if (trace) tracer.install(ctx.spark)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var round = 0
    def tracedRound = trace && round % 2 == 1
    tracer.enabled = tracedRound
    while (!wl.atRoundEnd || (trace && round % 2 == 1) || round < wl.minRounds ||
        (elapsed < seconds && round < wl.maxRounds)) {
      req += 1
      val spark = ctx.spark
      spark.sparkContext.setLocalProperty(Tracer.ReqKey, req.toString)
      tracer.beginRequest(req)
      val rec = tracer.span("jvm", s"op $req")(wl.runOne(req))
      // Caches an operation leaves behind would carry into the next one.
      tracer.add("cache.leaked_entries", spark.sparkContext.getPersistentRDDs.size.toDouble)
      spark.catalog.clearCache()
      ops += rec.copy(traced = tracedRound)
      if (wl.atRoundEnd) {
        // Events of this round count in this round's trace state.
        if (trace) tracer.drain(spark)
        round += 1
        tracer.enabled = tracedRound
      }
    }
    val windowS = elapsed
    val windowEndMs = ctx.nowMs
    val jvm = if (trace) tracer.jvmCounts() else Map.empty[String, Double]
    tracer.enabled = false
    idleS += Calibration.awaitIdle(ctx.spark.sparkContext)
    calib ++= Seq.fill(10)(Calibration.sample())
    phase(f"window done (idle waits ${idleS.mkString(", ")} s)")
    val extra = wl.finish()
    phase("finish done")
    if (trace) {
      tracer.linkParents()
      tracer.writeSpans(s"${args("work")}/spans.jsonl")
    }
    val traceOut: Map[String, Any] =
      if (!trace) Map.empty
      else Map(
        "counts" -> (countsOf(tracer) ++ jvm ++ ctx.setupCounts),
        "self_s" -> tracer.selfTimes(),
        "meta_read_s" -> tracer.spansOf("sources").filter(_.name == "meta_read").map(_.dur / 1e3),
        "driver_gap_s" -> driverGap(tracer, ops.filter(_.traced).toSeq))
    json.writeValue(new java.io.File(args("out")), Map(
      "workload" -> args("workload"),
      "setup_s" -> setupS,
      "window_s" -> windowS,
      "window_end_ms" -> windowEndMs,
      "calibration_s" -> calib,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ops,
      "trace" -> traceOut,
      "extra" -> extra))
    ctx.spark.stop()
    phase("stopped")
    // Engine thread pools (store writers, stream executors) are not all
    // daemon threads; the run is over, so do not wait for them to idle out.
    System.exit(0)
  }

  /** Renders the run record and spans; field names in snake case. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  private def countsOf(t: Tracer): Map[String, Double] =
    Seq("exec.jobs", "exec.tasks", "exec.task_cpu_s", "exec.task_run_s", "exec.gc_s",
      "exec.stage_skew_sum", "exec.stage_skew_n", "shuffle.bytes_written",
      "shuffle.fetch_wait_s", "shuffle.spill_bytes", "scan.bytes_read", "scan.rows_read",
      "scan.files_planned", "scan.files_planned_lake", "scan.files_live", "scan.filtered_in", "scan.filtered_out",
      "plan.statements", "plan.analysis_s", "plan.optimizer_s", "plan.physical_s",
      "plan.exchanges", "stream.triggers", "stream.trigger_s", "stream.add_batch_s",
      "stream.query_planning_s", "stream.wal_commit_s", "stream.rows_in",
      "cache.leaked_entries", "operators.lsh_candidates", "operators.lsh_true_pairs",
      "sources.compact_bytes_rewritten", "sources.commit_retries", "overhead.hook_s")
      .map(k => k -> t.count(k)).toMap

  /** Per traced operation: wall time not covered by any of its Spark jobs. */
  private def driverGap(t: Tracer, ops: Seq[OpRecord]): Double = {
    val jobs = t.spansOf("exec").filter(_.name.startsWith("job")).groupBy(_.req)
    val nanoToEpoch = System.currentTimeMillis() - System.nanoTime() / 1e6
    ops.map { o =>
      val (a, b) = (o.startMs + nanoToEpoch, o.endMs + nanoToEpoch)
      val covered = Tracer.union(jobs.getOrElse(o.req, Seq.empty)
        .map(s => (math.max(s.start, a), math.min(s.end, b))).filter { case (x, y) => y > x })
      (b - a - covered) / 1e3
    }.sum
  }

  /** The driver process's peak resident set (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
