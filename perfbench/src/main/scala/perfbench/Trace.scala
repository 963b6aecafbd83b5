package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans the benchmark records around its calls into graft, joined with
  * the engine's own events: Spark's scheduler listener, the
  * `QueryExecution` planning tracker and streaming progress.
  *
  * The benchmark drives graft from one thread, one call at a time, so
  * every engine event belongs to the span open at its wall-clock
  * timestamp. Spans and events stay in memory until the run ends.
  */
final class Trace {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[A](name: String, op: String = "")(body: => A): A = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
      op, System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      s.endNs = System.nanoTime()
      open = open.tail
    }
  }

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val phases = new ConcurrentLinkedQueue[(Long, Long)]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  @volatile private var markerJob = -1
  @volatile private var markerDone = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a job's call site names the action that launched it, as its
      // result stage's name does ("parquet at Tables.scala:38")
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
      val j = JobRec(e.jobId, e.time, site)
      jobById.put(e.jobId, j)
      jobs.add(j)
      if (Option(e.properties).exists(_.getProperty(Marker) != null))
        markerJob = e.jobId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobById.get(e.jobId)).foreach(_.end = e.time)
      if (e.jobId == markerJob) markerDone = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.add(StageRec(
        si.submissionTime.getOrElse(0L), si.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.resultSize,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val delay = if (m == null) 0L else math.max(0L, i.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      tasks.add(TaskRec(i.launchTime, delay, e.reason != Success))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(ph.get).foreach(p =>
        phases.add((p.startTimeMs, p.durationMs)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(System.currentTimeMillis(), p.batchDuration,
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsUpdated).sum, p.numInputRows))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the listener bus to deliver every event posted so far, then
    * stop listening. A marker job outside any span flushes the queue:
    * events are delivered in order, so once its end arrives every
    * earlier one has too. */
  def detach(spark: SparkSession): Unit = {
    require(open.isEmpty, "detach inside an open span")
    val sc = spark.sparkContext
    markerDone = false
    sc.setLocalProperty(Marker, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Marker, null)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50) // session and streaming buses run beside the core bus
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Engine work inside the spans `ss`: job, stage and task totals, wall
    * time with no job running, planning phases and streaming batches. */
  def work(ss: Seq[Span], cores: Int): Work = {
    def in(t: Long) = ss.exists(s => s.startMs <= t && t <= s.endMs)
    val js = jobs.asScala.filter(j => in(j.start)).toSeq
    val st = stages.asScala.filter(s => in(s.submitted)).toSeq
    val tk = tasks.asScala.filter(t => in(t.launch)).toSeq
    val bt = batches.asScala.filter(b => in(b.at)).toSeq
    // job wall: union of job intervals clipped to their span
    val jobWallMs = ss.map { s =>
      val iv = js.filter(j => s.startMs <= j.start && j.start <= s.endMs)
        .map(j => (j.start, math.min(if (j.end < 0) s.endMs else j.end,
          s.endMs))).sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      covered
    }.sum
    val wallS = ss.map(_.seconds).sum
    val runMs = st.map(_.runMs).sum
    Work(
      wallS = wallS,
      driverS = math.max(0.0, wallS - jobWallMs / 1e3),
      jobs = js.size,
      schemaJobs = js.count(_.callSite.startsWith("parquet at")),
      stages = st.size,
      tasks = st.map(_.tasks).sum,
      failedTasks = tk.count(_.failed),
      taskRunS = runMs / 1e3,
      taskCpuS = st.map(_.cpuNs).sum / 1e9,
      taskGcS = st.map(_.gcMs).sum / 1e3,
      schedDelayS = tk.map(_.delayMs).sum / 1e3,
      slotUtil = if (jobWallMs == 0) 0.0 else runMs.toDouble / (jobWallMs * cores),
      shuffleReadBytes = st.map(_.shuffleRead).sum,
      shuffleWriteBytes = st.map(_.shuffleWrite).sum,
      spillBytes = st.map(_.spill).sum,
      inputBytes = st.map(_.input).sum,
      outputBytes = st.map(_.output).sum,
      outputRows = st.map(_.outputRows).sum,
      resultBytes = st.map(_.resultBytes).sum,
      planningS = phases.asScala.filter(p => in(p._1)).map(_._2).sum / 1e3,
      batches = bt.size,
      batchS = bt.map(_.durationMs).sum / 1e3,
      stateCommitS = bt.map(_.commitMs).sum / 1e3,
      stateRowsUpdated = bt.map(_.rowsUpdated).sum,
      inputRows = bt.map(_.inputRows).sum)
  }

  /** Spans as JSON-ready maps: id, parent id, name, operation, start and
    * end in epoch ms, duration, and self time (duration minus the
    * durations of its child spans). */
  def spanRecords: Seq[Map[String, Any]] = {
    val childS = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_s" -> (s.seconds - childS.getOrElse(s.id, 0.0))))
  }
}

object Trace {
  private val Marker = "perfbench.marker"

  final case class Span(id: Int, parent: Int, name: String, op: String,
                        startMs: Long, startNs: Long) {
    var endMs: Long = -1L
    var endNs: Long = -1L
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class JobRec(id: Int, start: Long, callSite: String) {
    @volatile var end: Long = -1L
  }
  final case class StageRec(submitted: Long, tasks: Int, runMs: Long,
                            cpuNs: Long, gcMs: Long, resultBytes: Long,
                            shuffleRead: Long, shuffleWrite: Long,
                            spill: Long, input: Long, output: Long,
                            outputRows: Long)
  final case class TaskRec(launch: Long, delayMs: Long, failed: Boolean)
  final case class BatchRec(at: Long, durationMs: Long, commitMs: Long,
                            rowsUpdated: Long, inputRows: Long)
  final case class Work(wallS: Double, driverS: Double, jobs: Int,
                        schemaJobs: Int, stages: Int, tasks: Int,
                        failedTasks: Int, taskRunS: Double, taskCpuS: Double,
                        taskGcS: Double, schedDelayS: Double, slotUtil: Double,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, inputBytes: Long, outputBytes: Long,
                        outputRows: Long, resultBytes: Long,
                        planningS: Double, batches: Int, batchS: Double,
                        stateCommitS: Double, stateRowsUpdated: Long,
                        inputRows: Long)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
}
