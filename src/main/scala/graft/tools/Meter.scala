package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler._

/** One SparkListener that records jobs and sums task metrics over a
  * window. [[measure]] drains the listener bus, opens the window, runs
  * the body, reads the wall time, then drains again before it reads the
  * sums — so the wall excludes the drain and no trailing event is lost.
  * Windows must not overlap; [[close]] detaches the listener. */
final class Meter(sc: SparkContext) extends SparkListener {
  import Meter._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sums = new ConcurrentHashMap[Int, Sums]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage (the job's newest) is named after its call site
    val site = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
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
