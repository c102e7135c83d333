package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark stage as the trace keeps it, with its job's call site. */
final case class StageRec(id: Int, jobId: Int, name: String, numTasks: Int,
                          submitMs: Long, completeMs: Long, taskMs: Long,
                          cpuMs: Long, shuffleWrite: Long, shuffleRead: Long,
                          spill: Long, inputRows: Long, site: String)

/** One Spark job: its span tag (the `perfbench.span` local property of the
  * submitting thread, if any) and its call site. Adaptive execution submits
  * shuffle stages from a pool thread whose stack holds no caller frames, so
  * such a job takes the call site of the SQL execution it belongs to.
  */
final case class JobRec(id: Int, span: String, startMs: Long, var endMs: Long,
                        stageIds: Seq[Int], site: String)

/** An operation span recorded by the benchmark around a call into one
  * layer: `parent` links op → sub-op; Spark jobs link to spans by tag or,
  * for work a server thread submits, by the span's time window.
  */
final case class Span(id: String, parent: String, layer: String, name: String,
                      startMs: Long, endMs: Long)

/** The traced run's recorder: a SparkListener for jobs and stages and a
  * QueryExecutionListener for executed plans, all kept in memory and
  * written out once at the end ([[writeSpans]]).
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val plans = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  private val planListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.synchronized(plans += qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    this
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }

  private val execSites = scala.collection.mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execSites(x.executionId) = x.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).getOrElse("")
    val own = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val exec = prop("spark.sql.execution.id").flatMap(x => execSites.get(x.toLong))
    val site = if (Tracer.hasCaller(own)) own else exec.getOrElse(own)
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1L, e.stageIds, site)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val site = stageJob.get(si.stageId).flatMap(jobs.get).map(_.site).getOrElse(si.details)
    val rec =
      if (tm == null) StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1), si.name,
        si.numTasks, si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        0, 0, 0, 0, 0, 0, site)
      else StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1), si.name, si.numTasks,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        tm.executorRunTime, tm.executorCpuTime / 1000000L,
        tm.shuffleWriteMetrics.bytesWritten, tm.shuffleReadMetrics.totalBytesRead,
        tm.memoryBytesSpilled + tm.diskBytesSpilled,
        tm.inputMetrics.recordsRead, site)
    stages(si.stageId) = rec
  }

  /** Run `body` as a span; Spark jobs it submits from this thread carry
    * the span's id. Returns the body's result and the span.
    */
  def span[T](layer: String, name: String, parent: String = "")(body: => T): (T, Span) = {
    val id = s"s${ids.incrementAndGet()}"
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id)
    val t0 = System.currentTimeMillis()
    try {
      val r = body
      val s = Span(id, parent, layer, name, t0, System.currentTimeMillis())
      spans.synchronized(spans += s)
      (r, s)
    } finally sc.setLocalProperty(Tracer.SpanKey, prev)
  }

  /** Record a span measured elsewhere (e.g. an HTTP request's window). */
  def record(layer: String, name: String, startMs: Long, endMs: Long): Span = {
    val s = Span(s"s${ids.incrementAndGet()}", "", layer, name, startMs, endMs)
    spans.synchronized(spans += s)
    s
  }

  /** Wait until the listener bus has delivered every job end it will (the
    * bus is asynchronous): all started jobs ended and the job count held
    * still for a moment.
    */
  def settle(): Unit = {
    var last = -1
    var stable = 0
    val deadline = System.currentTimeMillis() + 10000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val (n, open) = synchronized((jobs.size, jobs.values.count(_.endMs < 0)))
      if (n == last && open == 0) stable += 1 else stable = 0
      last = n
    }
  }

  def allJobs: Vector[JobRec] = synchronized(jobs.values.toVector)
  def allStages: Vector[StageRec] = synchronized(stages.values.toVector)
  def allSpans: Vector[Span] = spans.synchronized(spans.toVector)
  def planCount: Int = plans.synchronized(plans.size)

  def jobsOfSpan(id: String): Vector[JobRec] = allJobs.filter(_.span == id)
  def jobsIn(startMs: Long, endMs: Long): Vector[JobRec] =
    allJobs.filter(j => j.startMs >= startMs && j.startMs <= endMs)
  def stagesOf(js: Seq[JobRec]): Vector[StageRec] = {
    val want = js.map(_.id).toSet
    allStages.filter(s => want.contains(s.jobId))
  }
  /** Executed plans recorded since plan index `from` (see [[planCount]]). */
  def plansSince(from: Int): Vector[QueryExecution] =
    plans.synchronized(plans.drop(from).toVector)

  /** Write spans, jobs and stages as JSON lines. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      allSpans.foreach { s =>
        w.println(s"""{"kind":"span","id":${Json.str(s.id)},"parent":${Json.str(s.parent)},""" +
          s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
          s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      }
      allJobs.foreach { j =>
        w.println(s"""{"kind":"job","id":${j.id},"span":${Json.str(j.span)},""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stageIds.mkString("[", ",", "]")},""" +
          s""""module":${Json.str(Tracer.module(j.site))},"site":${Json.str(Tracer.firstEngineFrame(j.site))}}""")
      }
      allStages.foreach { s =>
        w.println(s"""{"kind":"stage","id":${s.id},"job":${s.jobId},"name":${Json.str(s.name)},""" +
          s""""tasks":${s.numTasks},"submit_ms":${s.submitMs},"complete_ms":${s.completeMs},""" +
          s""""task_ms":${s.taskMs},"cpu_ms":${s.cpuMs},"shuffle_write":${s.shuffleWrite},""" +
          s""""shuffle_read":${s.shuffleRead},"spill":${s.spill},"input_rows":${s.inputRows},""" +
          s""""module":${Json.str(Tracer.module(s.site))},"file":${Json.str(Tracer.file(s.site))}}""")
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  private val frame = """^\s*(?:[\w.$]+/)?(graft\.[\w.$]+)\(([^:)]*)""".r.unanchored

  /** Whether a call site reaches code outside Spark and the JDK (an
    * engine or benchmark frame), i.e. names who submitted the work.
    */
  def hasCaller(site: String): Boolean = site.contains("graft.") || site.contains("perfbench.")

  /** The innermost engine frame of a call site ("" when the stack holds
    * none, i.e. the action was issued by the benchmark itself).
    */
  def firstEngineFrame(site: String): String =
    site.split('\n').find(_.contains("graft.")).map(_.trim).getOrElse("")

  /** Engine module (`store`, `series`, `ops`, `serve`, ...) of a call site;
    * `query` when the benchmark issued the action on an engine-built plan.
    */
  def module(site: String): String = firstEngineFrame(site) match {
    case frame(cls, _) =>
      val parts = cls.split('.')
      if (parts.length > 2) parts(1) else "top"
    case _ => "query"
  }

  /** Engine source file of a call site ("" when none). */
  def file(site: String): String = firstEngineFrame(site) match {
    case frame(_, f) => f
    case _ => ""
  }

  /** Jobs a `Serve` request handler submitted for a PUT (its private
    * `doPut` frame, name-mangled by the compiler).
    */
  def isPut(j: JobRec): Boolean = j.site.contains("$$doPut(")

  def taskMs(ss: Seq[StageRec]): Long = ss.map(_.taskMs).sum
}

/** Sums of executed-plan SQL metrics by operator kind, AQE-aware (walks
  * adaptive plans' final physical plans and their query stages). The
  * engine's read pipeline aggregates with SortAggregate and joins deletes
  * with a broadcast nested-loop join, neither of which keeps a timing
  * metric, so only scan and sort times are summed.
  */
object PlanMetrics {
  private object helper extends AdaptiveSparkPlanHelper

  final case class Sums(scanMs: Long, sortMs: Long, filesRead: Long, rowsScanned: Long) {
    def +(o: Sums): Sums = Sums(scanMs + o.scanMs, sortMs + o.sortMs,
      filesRead + o.filesRead, rowsScanned + o.rowsScanned)
  }
  val zero: Sums = Sums(0, 0, 0, 0)

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def of(qe: QueryExecution): Sums = {
    var acc = zero
    helper.foreach(qe.executedPlan) { p =>
      if (p.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
        acc = acc + Sums(metric(p, "scanTime"), 0, metric(p, "numFiles"), metric(p, "numOutputRows"))
      else if (p.isInstanceOf[org.apache.spark.sql.execution.SortExec])
        acc = acc + Sums(0, metric(p, "sortTime"), 0, 0)
    }
    acc
  }

  def of(qes: Seq[QueryExecution]): Sums = qes.foldLeft(zero)((a, q) => a + of(q))
}
