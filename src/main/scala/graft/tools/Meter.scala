package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One SparkListener that records jobs and sums task metrics over a
  * window. [[measure]] drains the listener bus, opens the window, runs
  * the body, reads the wall time, then drains again before it reads the
  * sums — so the wall excludes the drain and no trailing event is lost.
  * Windows must not overlap; [[close]] detaches the listener.
  *
  * A job that Spark submits on a query's behalf from its own threads (an
  * AQE query stage, a broadcast) carries a call site inside those
  * threads, in `CompletableFuture.java`. Such a job, one whose call site
  * is not its SQL execution's, is recorded with the execution's call
  * site instead, marked ` (stage)`. */
final class Meter(sc: SparkContext) extends SparkListener {
  import Meter._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sums = new ConcurrentHashMap[Int, Sums]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  sc.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, shortSite(s.details).getOrElse(s.description))
    case s: SparkListenerSQLExecutionEnd => execSite.remove(s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage (the job's newest) is named after its call site
    val own = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(id => Option(execSite.get(id.toLong)))
      .filter(_ != own).fold(own)(q => s"$q (stage)")
    val desc = prop("spark.job.description").getOrElse("")
    jobs.put(e.jobId,
      Job(e.jobId, e.time, -1L, site, desc.replaceAll("\\s+", " ").trim, Sums()))
    // a shared or skipped stage belongs to the first job that listed it
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    sums.merge(stageJob.getOrDefault(e.stageId, -1), Sums.of(e), _ + _)

  def measure(body: => Unit): Window = {
    ListenerBus.drain(sc)
    jobs.clear(); stageJob.clear(); sums.clear()
    val (t0, t0Ms) = (System.nanoTime(), System.currentTimeMillis())
    body
    val (wall, t1Ms) = ((System.nanoTime() - t0) / 1e9, System.currentTimeMillis())
    ListenerBus.drain(sc)
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
      .map(j => j.copy(tasks = sums.getOrDefault(j.id, Sums())))
    Window(wall, t0Ms, t1Ms, js, sums.values.asScala.foldLeft(Sums())(_ + _))
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Meter {
  private val Method = """.*\.([^.(]+)\(.*""".r
  private val Location = """.*\(([^()]+)\)""".r

  /** Spark's short call site (`collect at Foo.scala:12`) from its long
    * form, whose first line is the last Spark frame and second the
    * first user frame. */
  private def shortSite(longForm: String): Option[String] =
    longForm.split('\n') match {
      case Array(Method(m), Location(at), _*) => Some(s"$m at $at")
      case _ => None
    }

  /** Task totals: count, run/CPU/GC time, and bytes. */
  final case class Sums(tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
                        gcMs: Long = 0, shuffleRead: Long = 0,
                        shuffleWrite: Long = 0, spill: Long = 0, input: Long = 0) {
    def +(o: Sums): Sums = Sums(tasks + o.tasks, runMs + o.runMs,
      cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, spill + o.spill, input + o.input)
  }
  object Sums {
    def of(e: SparkListenerTaskEnd): Sums = Option(e.taskMetrics).fold(Sums(1)) { m =>
      Sums(1, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.bytesRead)
    }
  }

  /** A job started inside the window; `endMs` is -1 if it never ended. */
  final case class Job(id: Int, startMs: Long, endMs: Long, site: String,
                       desc: String, tasks: Sums)

  final case class Window(wallS: Double, t0Ms: Long, t1Ms: Long,
                          jobs: Seq[Job], total: Sums) {
    /** Seconds of the window during which no job of it was running. */
    def driverGapS: Double = {
      var (busy, end) = (0L, t0Ms)
      jobs.map(j => (j.startMs max t0Ms, if (j.endMs < 0) t1Ms else j.endMs min t1Ms))
        .sortBy(_._1).foreach { case (a, b) =>
          if (b > end) { busy += b - (a max end); end = b }
        }
      math.max(0.0, wallS - busy / 1e3)
    }
  }
}
