package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The trace must charge work to the layer and the gate that did it: a
  * driver-side sleep wrapped around a gate call to that gate's
  * `exec.driver_gap_s`, one extra Spark job to its `exec.task_run_s`. */
class AttributionSpec extends AnyFunSuite {
  // Both are several times the gate's own work (about 0.2 s of driver gap
  // and 0.6-1.1 s of task time for p_from_list on a young JVM), so the
  // bounds below do not depend on how fast that work runs.
  private val SleepMs = 3000L
  private val TaskMs = 3000L

  test("a driver-side sleep is driver gap and an extra job is task time, of the wrapped gate") {
    Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      // a gate that reads no table, so the directory is never opened
      val gate = graft.SparkEntry.queries("p_from_list")
      val sleepy: Runner.Gate = (s, d) => { Thread.sleep(SleepMs); gate(s, d) }
      val extraJob: Runner.Gate = (s, d) => {
        val ms = TaskMs
        s.sparkContext.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(ms))
        gate(s, d)
      }
      val runner = new Runner(spark, "unused", 2)
      runner.pass("warmup", Seq("plain" -> gate))
      val pass = runner.pass("traced",
        Seq("plain" -> gate, "sleep" -> sleepy, "job" -> extraJob), traced = true)
      assert(runner.failures.isEmpty, runner.failures)

      val ledger = runner.ledger
      val byGate: Map[String, Map[String, Double]] =
        runner.spans.children(pass).map(g => g.name -> ledger.layers(g)).toMap
      byGate.foreach { case (g, l) =>
        info(f"$g: driver_gap_s ${l("exec.driver_gap_s")}%.3f task_run_s ${l("exec.task_run_s")}%.3f")
      }
      def gap(g: String) = byGate(g)("exec.driver_gap_s")
      def taskRun(g: String) = byGate(g)("exec.task_run_s")
      val (sleepS, jobTaskS) = (SleepMs / 1e3, 2 * TaskMs / 1e3)

      // no job runs during the sleep, so all of it is driver gap of its gate
      assert(gap("sleep") > 0.98 * sleepS)
      assert(gap("sleep") < 1.5 * sleepS)
      assert(taskRun("sleep") < 0.5 * jobTaskS)
      // the extra job's two tasks are task time of its gate, not gap
      assert(taskRun("job") > 0.98 * jobTaskS)
      assert(taskRun("job") < 1.5 * jobTaskS)
      assert(gap("job") < 0.5 * sleepS)
      // and neither is charged to the neighbouring plain call
      assert(gap("plain") < 0.5 * sleepS)
      assert(taskRun("plain") < 0.5 * jobTaskS)
    } finally spark.stop()
  }
}
