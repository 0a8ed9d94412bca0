package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs gates as the program's users do: build the gate's DataFrame with
  * its `SparkEntry.queries` function, then force it. Every call is a span,
  * so a traced pass can charge Spark's work to the gate that caused it. */
final class Runner(spark: SparkSession, dir: String, nproc: Int) {
  import Runner.Gate

  val spans = new Spans(spark.sparkContext)
  val recorder = new Recorder(spark)
  def ledger: Ledger = new Ledger(spans, recorder, nproc)
  /** (gate, error) of every gate call that threw or was left out. */
  val failures = ArrayBuffer.empty[(String, String)]

  /** One gate. With `output`, the result is written as parquet for the
    * correctness check instead of to the no-op sink. */
  def gate(name: String, fn: Gate, output: Option[String] = None): Unit =
    try spans("gate", name) { _ =>
      val df = spans("build", name)(_ => fn(spark, dir))
      spans("force", name) { _ =>
        output match {
          case Some(o) => df.coalesce(1).write.mode("overwrite").parquet(s"$o/$name")
          case None => df.write.mode("overwrite").format("noop").save()
        }
      }
    } catch {
      case e: Throwable => failures += name -> String.valueOf(e.getMessage).take(500)
    } finally graft.core.SessionHygiene.flush(spark)

  /** One pass over `gates` in the given order. A traced pass has the
    * listeners attached; their queue is drained after the pass span ends. */
  def pass(label: String, gates: Seq[(String, Gate)], output: Option[String] = None,
           traced: Boolean = false): Span = {
    if (traced) recorder.attach()
    try spans("pass", label, withHost = true) { s =>
      gates.foreach { case (n, fn) => gate(n, fn, output) }
      s
    } finally if (traced) recorder.detach()
  }
}

object Runner {
  type Gate = (SparkSession, String) => DataFrame
}
