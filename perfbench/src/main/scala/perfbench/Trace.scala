package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of the benchmark's driver thread. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  var t1Ns: Long = t0Ns
  var t1Ms: Long = t0Ms
  /** Host counters at the start and end of the span, when taken. */
  var host: Option[(Host.Reading, Host.Reading)] = None
  def seconds: Double = (t1Ns - t0Ns) / 1e9
}

/** Spans nest workload → pass → gate → build/force. While a span is open,
  * the Spark jobs of its thread, and of threads started inside it, carry
  * its id in the local property [[Spans.Tag]]. */
final class Spans(sc: SparkContext) {
  val all = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](kind: String, name: String, withHost: Boolean = false)(body: Span => T): T = {
    val s = new Span(all.size, open.headOption.fold(-1)(_.id), kind, name)
    all += s
    open ::= s
    val outer = sc.getLocalProperty(Spans.Tag)
    sc.setLocalProperty(Spans.Tag, s.id.toString)
    val h0 = if (withHost) Some(Host.read()) else None
    try body(s)
    finally {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      s.host = h0.map(_ -> Host.read())
      open = open.tail
      sc.setLocalProperty(Spans.Tag, outer)
    }
  }

  def get(id: Int): Option[Span] = if (id >= 0 && id < all.size) Some(all(id)) else None
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq
  /** True when `s` is `root` or lies under it. */
  def within(s: Span, root: Span): Boolean =
    Iterator.iterate(Option(s))(_.flatMap(x => get(x.parent)))
      .takeWhile(_.isDefined).flatten.exists(_.id == root.id)
}

object Spans {
  val Tag = "perfbench.span"
}

/** What Spark's listener buses report, kept in memory until the run ends.
  * Listeners are attached only for traced passes. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, Tasks]()
  private val stagesDone = ConcurrentHashMap.newKeySet[Int]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  /** Stages a job ran (skipped and shared stages belong to their first job). */
  def stagesOf(j: Job): Seq[Int] =
    j.stageIds.filter(s => stageJob.get(s) == j.id && stagesDone.contains(s))
  def tasksOf(j: Job): Seq[Tasks] = stagesOf(j).flatMap(s => Option(stageTasks.get(s)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, new Job(e.jobId,
        prop(Spans.Tag).flatMap(_.toIntOption).getOrElse(-1), e.time,
        prop("spark.job.description").getOrElse(""),
        prop("spark.sql.execution.id").flatMap(_.toLongOption).getOrElse(-1L),
        e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = stageTasks.computeIfAbsent(e.stageId, _ => new Tasks)
      t.synchronized(t.add(e))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
      qes.add(Qe(qe.id,
        ph.get("analysis").fold(System.currentTimeMillis())(_.startTimeMs),
        ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      triggers.add(Trigger(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Delivers every queued event, then detaches. Call outside timed spans. */
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Recorder {
  final class Job(val id: Int, val tag: Int, val startMs: Long, val desc: String,
                  val execId: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }

  /** Sums over the finished tasks of one stage. */
  final class Tasks {
    var n, ok, runMs, cpuNs, gcMs, busyMs, fetchMs = 0L
    var shuffleWrite, shuffleRead, spill, input, peakMem = 0L
    def add(e: SparkListenerTaskEnd): Unit = {
      n += 1
      if (e.taskInfo.successful) ok += 1
      busyMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        fetchMs += m.shuffleReadMetrics.fetchWaitTime
        spill += m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
    }
  }

  final case class Qe(execId: Long, atMs: Long, analysisMs: Long,
                      optimizationMs: Long, planningMs: Long)

  final case class Trigger(atMs: Long, ms: Map[String, Long], rows: Long,
                           stateRows: Long, stateMem: Long, stateCommitMs: Long)
}

/** Charges what the [[Recorder]] saw to spans: jobs by their span tag,
  * query executions by their jobs' tag, and anything untagged (query
  * executions that ran no job, streaming triggers) by time. */
final class Ledger(spans: Spans, rec: Recorder, nproc: Int) {
  import Recorder._

  private val MB = 1024.0 * 1024.0
  private lazy val allJobs = rec.jobs.values.asScala.toSeq.sortBy(_.id)
  private lazy val execTag: Map[Long, Int] =
    allJobs.filter(j => j.execId >= 0 && j.tag >= 0).groupBy(_.execId)
      .map { case (e, js) => e -> js.head.tag }

  private def charged(tag: Int, atMs: Long, scope: Span): Boolean =
    spans.get(tag) match {
      case Some(s) => spans.within(s, scope)
      case None => atMs >= scope.t0Ms && atMs <= scope.t1Ms
    }

  private def jobs(scope: Span): Seq[Job] = allJobs.filter(j => charged(j.tag, j.startMs, scope))
  private def qes(scope: Span): Seq[Qe] =
    rec.qes.asScala.toSeq.filter(q => charged(execTag.getOrElse(q.execId, -1), q.atMs, scope))
  private def triggers(scope: Span): Seq[Trigger] =
    rec.triggers.asScala.toSeq.filter(t => t.atMs >= scope.t0Ms && t.atMs <= scope.t1Ms)

  /** Length in seconds of the union of `[start, end]` intervals clipped to the scope. */
  private def covered(scope: Span, iv: Seq[(Long, Long)]): Double = {
    val clipped = iv.map { case (a, b) => (a max scope.t0Ms, b min scope.t1Ms) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var (total, end) = (0L, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (b > end) { total += b - (a max end); end = b }
    }
    total / 1e3
  }

  private def jobInterval(j: Job, scope: Span): (Long, Long) =
    (j.startMs, if (j.endMs < 0) scope.t1Ms else j.endMs)

  /** Seconds of the span not covered by its child spans or by the jobs it started. */
  def selfSeconds(s: Span): Double =
    s.seconds - covered(s, spans.children(s).map(c => (c.t0Ms, c.t1Ms)) ++
      allJobs.filter(_.tag == s.id).map(jobInterval(_, s)))

  /** Every layer metric of one scope (a pass or a gate). */
  def layers(scope: Span): Map[String, Double] = {
    val wall = scope.seconds
    val js = jobs(scope)
    val ts = js.flatMap(rec.tasksOf)
    def tsum(f: Tasks => Long): Double = ts.map(f).sum.toDouble
    val nTasks = tsum(_.n)
    val qs = qes(scope)
    val trig = triggers(scope)
    def dur(k: String): Double = trig.map(_.ms.getOrElse(k, 0L)).sum.toDouble
    val trigMs = dur("triggerExecution")
    val host = scope.host.map { case (a, b) => b - a }
    def under(kind: String) = spans.all.filter(s => s.kind == kind && spans.within(s, scope))
    Map(
      "queries.build_s" -> under("build").map(_.seconds).sum,
      "queries.force_s" -> under("force").map(_.seconds).sum,
      "catalyst.analysis_ms" -> qs.map(_.analysisMs).sum.toDouble,
      "catalyst.optimization_ms" -> qs.map(_.optimizationMs).sum.toDouble,
      "catalyst.planning_ms" -> qs.map(_.planningMs).sum.toDouble,
      "catalyst.actions" -> qs.size.toDouble,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.map(rec.stagesOf(_).size).sum.toDouble,
      "exec.tasks" -> nTasks,
      "exec.task_ok_share" -> (if (nTasks > 0) tsum(_.ok) / nTasks else 1.0),
      "exec.driver_gap_s" -> math.max(0.0, wall - covered(scope, js.map(jobInterval(_, scope)))),
      "exec.task_run_s" -> tsum(_.runMs) / 1e3,
      "exec.task_cpu_s" -> tsum(_.cpuNs) / 1e9,
      "exec.task_gc_s" -> tsum(_.gcMs) / 1e3,
      "exec.shuffle_write_mb" -> tsum(_.shuffleWrite) / MB,
      "exec.shuffle_read_mb" -> tsum(_.shuffleRead) / MB,
      "exec.shuffle_fetch_wait_s" -> tsum(_.fetchMs) / 1e3,
      "exec.spill_mb" -> tsum(_.spill) / MB,
      "exec.input_mb" -> tsum(_.input) / MB,
      "exec.slot_busy_share" -> (if (wall > 0) tsum(_.busyMs) / 1e3 / (wall * nproc) else 0.0),
      "exec.peak_exec_mem_mb" -> ts.map(_.peakMem).foldLeft(0L)(_ max _) / MB,
      "streaming.triggers" -> trig.size.toDouble,
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.trigger_ms" -> trigMs,
      "streaming.overhead_share" -> (if (trigMs > 0) (trigMs - dur("addBatch")) / trigMs else 0.0),
      "streaming.state_rows" -> trig.map(_.stateRows).foldLeft(0L)(_ max _).toDouble,
      "streaming.state_mem_mb" -> trig.map(_.stateMem).foldLeft(0L)(_ max _) / MB,
      "streaming.state_commit_ms" -> trig.map(_.stateCommitMs).sum.toDouble,
      "streaming.empty_trigger_share" ->
        (if (trig.nonEmpty) trig.count(_.rows == 0).toDouble / trig.size else 0.0),
      "host.utime_s" -> host.fold(0.0)(_.utimeS),
      "host.stime_s" -> host.fold(0.0)(_.stimeS),
      "host.jvm_gc_s" -> host.fold(0.0)(_.gcS),
      "host.majflt" -> host.fold(0.0)(_.majflt.toDouble),
      "host.ext_cpu_s" -> host.fold(0.0)(_.extCpuS),
    )
  }

  /** Task seconds of a scope's jobs, grouped by job description. */
  def taskSecondsByDescription(scope: Span): Map[String, Double] =
    jobs(scope).groupBy(_.desc).map { case (d, js) =>
      d -> js.flatMap(rec.tasksOf).map(_.runMs).sum / 1e3
    }

  /** One JSON object per span and per job, with self time. */
  def spanLines(): Seq[String] = {
    val spanRows = spans.all.toSeq.map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.t0Ms, "dur_s" -> s.seconds, "self_s" -> selfSeconds(s)))
    }
    val jobRows = allJobs.map { j =>
      val ts = rec.tasksOf(j)
      Json(Map("id" -> s"job-${j.id}", "parent" -> j.tag, "kind" -> "job", "name" -> j.desc,
        "start_ms" -> j.startMs, "dur_s" -> (j.endMs - j.startMs) / 1e3,
        "tasks" -> ts.map(_.n).sum, "task_run_s" -> ts.map(_.runMs).sum / 1e3))
    }
    val trigRows = rec.triggers.asScala.toSeq.sortBy(_.atMs).map { t =>
      Json(Map("kind" -> "trigger", "start_ms" -> t.atMs, "rows" -> t.rows,
        "dur_s" -> t.ms.getOrElse("triggerExecution", 0L) / 1e3, "durations_ms" -> t.ms))
    }
    spanRows ++ jobRows ++ trigRows
  }
}
