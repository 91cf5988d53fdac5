package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in span collector built on public Spark APIs only.
  *
  * A span wraps one call into a library layer on the driver thread. While
  * it is open, a thread-local job tag `pb-<span id>` marks every Spark job
  * the call starts; a nested span swaps the tag, so a job always carries
  * the innermost open span. A SparkListener folds job, stage, task and
  * block-manager events into records keyed by that tag, a
  * QueryExecutionListener adds the planning phases and scanned files of
  * each query, and a StreamingQueryListener keeps every micro-batch
  * progress report. Everything stays in memory until `toJson`.
  *
  * Streaming progress is always collected (the micro-batch latency is an
  * end-to-end metric); spans, tags and the other listeners exist only
  * while `on` is true. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Wall-clock ms with sub-ms resolution, comparable with listener times. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final class Span(val id: Int, val parent: Int, val name: String, val trace: String,
                   val startMs: Double) {
    var endMs = 0.0
    val counts = mutable.LinkedHashMap.empty[String, Double]
  }

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stacks = ThreadLocal.withInitial[mutable.ArrayBuffer[Span]](() => mutable.ArrayBuffer.empty)
  @volatile private var root = 0
  @volatile private var on = false
  @volatile var trace = ""

  def enabled: Boolean = on

  /** Run `body` as a span. A span opened on a thread with no open span of
    * its own (a worker serving requests) hangs under the open root span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val stack = stacks.get()
      val parent = stack.lastOption
      val s = lock.synchronized {
        val s = new Span(spans.size + 1, parent.map(_.id).getOrElse(root), name, trace, nowMs())
        spans += s
        s
      }
      if (parent.isEmpty && root == 0) root = s.id
      stack += s
      parent.foreach(p => sc.removeJobTag(tag(p.id)))
      sc.addJobTag(tag(s.id))
      try body
      finally {
        sc.removeJobTag(tag(s.id))
        parent.foreach(p => sc.addJobTag(tag(p.id)))
        s.endMs = nowMs()
        stack.remove(stack.size - 1)
        if (root == s.id) root = 0
      }
    }

  /** Add a count to the innermost open span (no-op when tracing is off). */
  def count(key: String, v: Double): Unit =
    if (on) stacks.get().lastOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  private def tag(id: Int) = s"pb-$id"
  /** The newest span among a job's tags: tags inherited by a pool thread
    * at its creation are older than the span it is serving. */
  private def spanOfTags(tags: String): Int =
    Option(tags).toSeq.flatMap(_.split(",")).filter(_.startsWith("pb-"))
      .map(_.stripPrefix("pb-")).flatMap(_.toIntOption).maxOption.getOrElse(0)

  // ------------------------------------------------------ engine events --

  final class StageRec(val id: Int, val span: Int) {
    var name = ""; var callSites = ""
    var submitMs = 0.0; var doneMs = 0.0
    var tasks = 0; var runMs = 0.0; var maxTaskMs = 0.0; var gcMs = 0.0
    var waitMs = 0.0; var inBytes = 0L; var inRecs = 0L; var outBytes = 0L; var outRecs = 0L
    var shufRead = 0L; var shufWrite = 0L; var memSpill = 0L; var diskSpill = 0L
  }
  final class JobRec(val id: Int, val span: Int, val startMs: Double) { var endMs = 0.0 }
  final class QueryRec(val startMs: Double, val planMs: Double, val phases: Map[String, Long],
                       val files: Long, val fileBytes: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val blockMem = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var peakBlockBytes = 0L
  private var droppedBlocks = 0L
  private val drained = mutable.Set.empty[String]

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val tags = Option(e.properties).map(_.getProperty("spark.job.tags")).orNull
      Option(tags).foreach(t => t.split(",").filter(_.startsWith("pbdrain-")).foreach(drained += _))
      val span = spanOfTags(tags)
      jobs(e.jobId) = new JobRec(e.jobId, span, e.time.toDouble)
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageRec(e.stageInfo)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val r = stageRec(e.stageInfo)
      r.doneMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val r = stages.getOrElseUpdate(e.stageId,
        new StageRec(e.stageId, stageSpan.getOrElse(e.stageId, 0)))
      val ti = e.taskInfo
      val dur = (ti.finishTime - ti.launchTime).toDouble
      r.tasks += 1
      r.maxTaskMs = math.max(r.maxTaskMs, dur)
      if (r.submitMs > 0) r.waitMs += math.max(0.0, ti.launchTime - r.submitMs)
      Option(e.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.inBytes += m.inputMetrics.bytesRead
        r.inRecs += m.inputMetrics.recordsRead
        r.outBytes += m.outputMetrics.bytesWritten
        r.outRecs += m.outputMetrics.recordsWritten
        r.shufRead += m.shuffleReadMetrics.totalBytesRead
        r.shufWrite += m.shuffleWriteMetrics.bytesWritten
        r.memSpill += m.memoryBytesSpilled
        r.diskSpill += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val b = e.blockUpdatedInfo
      val id = b.blockId.name
      val before = blockMem.getOrElse(id, 0L)
      if (before > 0 && b.memSize == 0 && b.diskSize > 0) droppedBlocks += 1
      blockBytes += b.memSize - before
      if (b.memSize > 0) blockMem(id) = b.memSize else blockMem.remove(id)
      peakBlockBytes = math.max(peakBlockBytes, blockBytes)
    }
  }

  private def stageRec(si: StageInfo): StageRec = {
    val r = stages.getOrElseUpdate(si.stageId,
      new StageRec(si.stageId, stageSpan.getOrElse(si.stageId, 0)))
    r.name = si.name
    r.callSites = si.rddInfos.map(_.callSite).distinct.mkString(" | ")
    si.submissionTime.foreach(t => r.submitMs = t.toDouble)
    r
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val start = if (ph.isEmpty) nowMs() else ph.values.map(_.startTimeMs).min.toDouble
      var files = 0L
      var bytes = 0L
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _ =>
        }
        p.metrics.get("numFiles").foreach(m => files += m.value)
        p.metrics.get("filesSize").foreach(m => bytes += m.value)
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      try walk(qe.executedPlan) catch { case _: Exception => () }
      lock.synchronized {
        queries += new QueryRec(start, ph.values.map(_.durationMs).sum.toDouble,
          ph.map { case (k, v) => k -> v.durationMs }, files, bytes)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---------------------------------------------------- streaming events --

  final class Progress(val runId: String, val name: String, val batchId: Long,
                       val durations: Map[String, Long], val rows: Long,
                       val stateRows: Long, val stateBytes: Long, val watermark: String,
                       val atMs: Double)
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val terminated = mutable.LinkedHashSet.empty[String]

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators
      lock.synchronized {
        progress += new Progress(p.runId.toString, Option(p.name).getOrElse(""), p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
          Option(p.eventTime.get("watermark")).getOrElse(""), nowMs())
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized { terminated += e.runId.toString }
  }
  spark.streams.addListener(streaming)

  /** Block until `n` streaming queries have reported termination; their
    * progress reports are then all delivered (one ordered bus queue). */
  def awaitTerminated(n: Int, timeoutMs: Long = 30000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (lock.synchronized(terminated.size) < n && System.currentTimeMillis() < until)
      Thread.sleep(2)
  }
  def terminatedCount: Int = lock.synchronized(terminated.size)

  /** Progress reports of the `k`-th terminated query (0-based). */
  def progressOf(k: Int): Seq[Progress] = lock.synchronized {
    val run = terminated.toSeq.lift(k)
    progress.filter(p => run.contains(p.runId)).sortBy(_.batchId).toSeq
  }

  // ------------------------------------------------------------ control --

  private var drains = 0

  /** Wait until the shared listener queue has delivered everything posted
    * so far: run one tagged no-op job and wait for its start event. */
  private def drain(): Unit = {
    drains += 1
    val t = s"pbdrain-$drains"
    sc.addJobTag(t)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(t)
    val until = System.currentTimeMillis() + 30000
    while (!lock.synchronized(drained.contains(t)) && System.currentTimeMillis() < until)
      Thread.sleep(2)
  }

  def start(): Unit = if (!on) {
    sc.addSparkListener(engine)
    spark.listenerManager.register(planning)
    on = true
  }

  def stop(): Unit = if (on) {
    drain()
    sc.removeSparkListener(engine)
    spark.listenerManager.unregister(planning)
    on = false
  }

  // ------------------------------------------------------------- output --

  def toJson: Any = lock.synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "trace" -> s.trace, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "counts" -> s.counts.toMap)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
      "stages" -> stages.values.map(r => Map("id" -> r.id, "span" -> stageSpan.getOrElse(r.id, r.span),
        "name" -> r.name, "call_sites" -> r.callSites, "submit_ms" -> r.submitMs,
        "done_ms" -> r.doneMs, "tasks" -> r.tasks, "run_ms" -> r.runMs,
        "max_task_ms" -> r.maxTaskMs, "gc_ms" -> r.gcMs, "wait_ms" -> r.waitMs,
        "in_bytes" -> r.inBytes, "in_records" -> r.inRecs, "out_bytes" -> r.outBytes,
        "out_records" -> r.outRecs, "shuffle_read" -> r.shufRead,
        "shuffle_write" -> r.shufWrite, "mem_spill" -> r.memSpill, "disk_spill" -> r.diskSpill)),
      "queries" -> queries.map(q => Map("start_ms" -> q.startMs, "plan_ms" -> q.planMs,
        "phases" -> q.phases, "files" -> q.files, "file_bytes" -> q.fileBytes)),
      "progress" -> progress.map(p => Map("run" -> p.runId, "name" -> p.name,
        "batch" -> p.batchId, "durations" -> p.durations, "rows" -> p.rows,
        "state_rows" -> p.stateRows, "state_bytes" -> p.stateBytes,
        "watermark" -> p.watermark, "at_ms" -> p.atMs)),
      "storage" -> Map("peak_bytes" -> peakBlockBytes, "dropped_blocks" -> droppedBlocks))
  }
}
