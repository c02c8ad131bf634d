package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for spans
  * the client opens, whole for Spark's own event times). `parent` is the
  * id of the span that caused it (-1 at a root); `req` ties every span of
  * one benchmark operation together; `listener` marks spans Spark reported,
  * whose parent is found after the run. */
final case class Span(id: Int, layer: String, name: String, start: Double,
    end: Double, var parent: Int, req: Int, listener: Boolean) {
  def dur: Double = end - start
}

/** Spans and counts recorded at each call into a layer. Client spans wrap
  * the benchmark's calls into the engine; Spark's listeners add job spans,
  * plan-phase spans, stream-trigger spans and task counters, all tagged
  * with the operation (request) that was running. Everything is kept in
  * memory and written out at the end. When `enabled` is false every call
  * is a pass-through, so an untraced run pays nothing. */
final class Tracer(var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var nextId = 0
  @volatile private var req = -1
  private val stack = mutable.Stack[Int]()
  private val nanoToEpoch = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs: Double = System.nanoTime() / 1e6 + nanoToEpoch

  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val jobStart = mutable.Map[Int, (Long, Int)]()

  def beginRequest(r: Int): Unit = req = r

  def add(key: String, v: Double): Unit = if (enabled) synchronized { counts(key) += v }

  /** Time spent inside the tracer's own hooks, the direct part of its
    * overhead. */
  private def hook[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally synchronized { counts("overhead.hook_s") += (System.nanoTime() - t0) / 1e9 }
  }
  def count(key: String): Double = synchronized { counts(key) }

  private def record(layer: String, name: String, start: Double, end: Double,
      r: Int): Unit = synchronized {
    spans += Span(nextId, layer, name, start, end, -1, r, listener = true)
    nextId += 1
  }

  /** Time `f` as a span of `layer`, nested under the innermost open span. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val (id, parent) = hook {
        val parent = stack.headOption.getOrElse(-1)
        val id = synchronized { val i = nextId; nextId += 1; i }
        stack.push(id)
        (id, parent)
      }
      val t0 = nowMs
      try f
      finally hook {
        val t1 = nowMs
        stack.pop()
        synchronized { spans += Span(id, layer, name, t0, t1, parent, req, listener = false) }
      }
    }

  def spansOf(layer: String): Seq[Span] = synchronized { spans.filter(_.layer == layer).toSeq }

  // ---- Spark listeners ------------------------------------------------

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) hook {
      val r = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.ReqKey)))
        .map(_.toInt).getOrElse(-1)
      Tracer.this.synchronized { jobStart(e.jobId) = (e.time, r) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) hook {
      Tracer.this.synchronized(jobStart.remove(e.jobId)).foreach { case (t0, r) =>
        record("exec", s"job ${e.jobId}", t0.toDouble, e.time.toDouble, r)
        add("exec.jobs", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskMetrics != null) hook {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.bytes_written", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      Tracer.this.synchronized {
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) hook {
      val ts = Tracer.this.synchronized(stageTasks.remove(e.stageInfo.stageId))
      ts.filter(_.size >= 2).foreach { t =>
        val sorted = t.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        add("exec.stage_skew_sum", sorted.last.toDouble / median)
        add("exec.stage_skew_n", 1)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) hook(onQuery(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (enabled) hook(onQuery(qe))
  }

  private def onQuery(qe: QueryExecution): Unit = {
    val r = req
    add("plan.statements", 1)
    qe.tracker.phases.foreach { case (phase, p) =>
      val key = phase match {
        case "analysis" => "plan.analysis_s"
        case "optimization" => "plan.optimizer_s"
        case "planning" => "plan.physical_s"
        case other => s"plan.$other" + "_s"
      }
      add(key, p.durationMs / 1e3)
      record("plan", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble, r)
    }
    val nodes = Tracer.nodes(qe.executedPlan)
    add("plan.exchanges", nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }.toDouble)
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    nodes.foreach {
      case s: FileSourceScanExec =>
        add("scan.files_planned", metric(s, "numFiles"))
        add("scan.rows_read", metric(s, "numOutputRows"))
      case s: DataSourceV2ScanExecBase =>
        add("scan.files_planned", Tracer.splits(s).toDouble)
        add("scan.rows_read", metric(s, "numOutputRows"))
      case _ => ()
    }
    // Rows a filter directly above a scan keeps, over the rows scanned.
    nodes.foreach {
      case f: FilterExec =>
        Tracer.scanBelow(f.child).foreach { s =>
          add("scan.filtered_in", metric(s, "numOutputRows"))
          add("scan.filtered_out", metric(f, "numOutputRows"))
        }
      case _ => ()
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) hook {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      add("stream.triggers", 1)
      add("stream.trigger_s", d.getOrElse("triggerExecution", 0L) / 1e3)
      add("stream.add_batch_s", d.getOrElse("addBatch", 0L) / 1e3)
      add("stream.query_planning_s", d.getOrElse("queryPlanning", 0L) / 1e3)
      add("stream.wal_commit_s", d.getOrElse("walCommit", 0L) / 1e3)
      add("stream.rows_in", p.numInputRows.toDouble)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      record("stream", s"trigger ${p.batchId}", start,
        start + d.getOrElse("triggerExecution", 0L), req)
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gcAtStart = 0L

  def gcMillis: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Attach the listeners and start the JVM counters from now. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    heapPools.foreach(_.resetPeakUsage())
    gcAtStart = gcMillis
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** JVM-level counts over the traced window. */
  def jvmCounts(): Map[String, Double] = Map(
    "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
    "jvm.gc_s" -> (gcMillis - gcAtStart) / 1e3)

  /** Attach Spark's spans to the innermost client span of the same
    * request that encloses them, so self times subtract them from it. */
  def linkParents(): Unit = synchronized {
    val client = spans.filterNot(_.listener).groupBy(_.req)
    spans.filter(_.listener).foreach { s =>
      val encl = client.getOrElse(s.req, Seq.empty)
        .filter(c => c.start <= s.start + 1 && c.end >= s.end - 1)
      if (encl.nonEmpty) s.parent = encl.minBy(_.dur).id
    }
  }

  /** Self time of each layer: a span's duration minus the part of its
    * interval that its children cover, summed per layer. */
  def selfTimes(): Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Seq.empty)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.toSeq)
        math.max(0.0, s.dur - covered) / 1e3
      }.sum
    }
  }

  def writeSpans(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => w.println(Main.json.writeValueAsString(s)))
    finally w.close()
  }
}

object Tracer {
  val ReqKey = "perfbench.request"

  /** Every node of an executed plan, descending through adaptive wrappers
    * and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Input splits a V2 scan planned (its RDD is built once and cached). */
  def splits(s: DataSourceV2ScanExecBase): Int =
    (if (s.supportsColumnar) s.executeColumnar() else s.execute()).getNumPartitions

  def scanBelow(p: SparkPlan): Option[SparkPlan] = p match {
    case s: FileSourceScanExec => Some(s)
    case s: DataSourceV2ScanExecBase => Some(s)
    case other if other.children.size == 1 &&
      Set("ColumnarToRowExec", "InputAdapter").contains(other.getClass.getSimpleName) =>
      scanBelow(other.children.head)
    case _ => None
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curA, curB = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }
}
