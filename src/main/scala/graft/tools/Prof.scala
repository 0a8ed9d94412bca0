package graft.tools

import graft.SparkEntry
import graft.core.{SessionHygiene, SessionSetup}
import org.apache.spark.sql.SparkSession

/** Dev profiler for any [[SparkEntry.queries]] gate at any scale: each
  * run forces the gate with a noop write inside one [[Meter]] window.
  * Layer names match perfbench's ledger (`python3 perfbench/run.py
  * --trace 1`), so the two tools' numbers read the same; MB are MiB.
  *
  * Prints one line per run; for a gate's last run the job trace (gap =
  * driver time since the previous job ended, negative when jobs
  * overlap) and task seconds by job description (CurationStream's lanes
  * carry `graft-cs:<lane>`); then the minimum wall over the warm runs
  * (all but the first) and the last/first drift, which shows a gate
  * aging in one JVM. Usage:
  * `runMain graft.tools.Prof <sfDir> <gate[,gate...]> [repeat]` */
object Prof {
  final case class Record(gate: String, run: Int, window: Meter.Window) {
    /** The layers of the run, in print order. */
    def layers: Seq[(String, Double)] = {
      val t = window.total
      def mb(bytes: Long) = bytes / (1024.0 * 1024.0)
      Seq("wall_s" -> window.wallS, "exec.jobs" -> window.jobs.size.toDouble,
        "exec.tasks" -> t.tasks.toDouble, "exec.task_run_s" -> t.runMs / 1e3,
        "exec.task_cpu_s" -> t.cpuNs / 1e9,
        "exec.shuffle_read_mb" -> mb(t.shuffleRead),
        "exec.shuffle_write_mb" -> mb(t.shuffleWrite),
        "exec.spill_mb" -> mb(t.spill), "exec.input_mb" -> mb(t.input),
        "exec.driver_gap_s" -> window.driverGapS)
    }
  }

  private def requireKnown(gates: Seq[String]): Unit = {
    val unknown = gates.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"Prof: unknown gate name(s): ${unknown.mkString(", ")} — " +
        "known gates are SparkEntry.queries' keys")
  }

  /** Runs each gate `repeat` times; fails fast on unknown gate names. */
  def run(spark: SparkSession, dir: String, gates: Seq[String],
          repeat: Int): Seq[Record] = {
    requireKnown(gates)
    val meter = new Meter(spark.sparkContext)
    try gates.flatMap { g =>
      (1 to repeat).map { r =>
        val w = meter.measure(SparkEntry.queries(g)(spark, dir)
          .write.mode("overwrite").format("noop").save())
        SessionHygiene.flush(spark)
        Record(g, r, w)
      }
    } finally meter.close()
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** The printed report of [[run]]'s records. */
  def report(records: Seq[Record]): Seq[String] =
    records.map(_.gate).distinct.flatMap { g =>
      val runs = records.filter(_.gate == g).sortBy(_.run)
      val lines = runs.map { r =>
        s"PROF $g run ${r.run} " + r.layers.map { case (k, v) =>
          s"$k=" + (if (k == "exec.jobs" || k == "exec.tasks") v.toLong else fmt(v))
        }.mkString(" ")
      }
      val last = runs.last.window
      var prevEnd = last.t0Ms
      val trace = last.jobs.map { j =>
        val end = if (j.endMs < 0) last.t1Ms else j.endMs
        val line = f"PROF $g   job ${j.id}%5d  gap ${fmt((j.startMs - prevEnd) / 1e3)}%6s s" +
          f"  dur ${fmt((end - j.startMs) / 1e3)}%6s s  ${j.site}"
        prevEnd = prevEnd max end
        line
      } :+ s"PROF $g   tail gap ${fmt((last.t1Ms - prevEnd) / 1e3)} s"
      val byDesc = last.jobs.groupBy(_.desc).toSeq.sortBy(_._1).map { case (d, js) =>
        s"PROF $g   task_s ${fmt(js.map(_.tasks.runMs).sum / 1e3)}  " +
          (if (d.isEmpty) "(no description)" else d)
      }
      val walls = runs.map(_.window.wallS)
      lines ++ (s"PROF $g job trace, run ${runs.last.run}:" +: trace) ++
        (s"PROF $g task seconds by job description, run ${runs.last.run}:" +: byDesc) :+
        s"PROF $g min_warm_wall_s=${fmt(walls.drop(1).minOption.getOrElse(walls.head))} " +
          s"last/first=${fmt(walls.last / walls.head)}"
    }

  def main(args: Array[String]): Unit = {
    val gates = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val repeat = args.lift(2).fold(3)(_.toInt)
    requireKnown(gates)
    val spark = SessionSetup.harness()
    try report(run(spark, args(0), gates, repeat)).foreach(println)
    finally spark.stop()
  }
}
