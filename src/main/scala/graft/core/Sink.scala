package graft.core

import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.DataType

import scala.collection.mutable.ArrayBuffer

/** A sink (ref SURVEY §2.6). `inType = None` ≙ goconnect's AnyType sink
  * (`types.go:27`) — accepts any schema; `Some(t)` triggers coder
  * auto-injection in `Flow.to`.
  *
  * Flush semantics (ref `context.go:283-330`): bounded input ⇒ one flush
  * at end; streaming ⇒ per-micro-batch via foreachBatch, with
  * `Trigger.ProcessingTime` ≙ `.TriggerEvery`.
  */
trait Sink extends Serializable {
  def inType: Option[DataType] = None
  def write(flow: Flow): Sink.Result
}

object Sink {
  sealed trait Result
  /** Bounded flush completed. */
  final case class Done(rows: Long) extends Result
  /** Streaming query handle. */
  final case class Streaming(query: org.apache.spark.sql.streaming.StreamingQuery) extends Result

  /** Overwrites `path` with `df` as parquet and returns the rows
    * written, counted by an observation on the write's own job rather
    * than by reading the files back (a schema-inference job plus a
    * count job). */
  private[core] def writeCounted(df: DataFrame, path: String): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows")).write.mode("overwrite").parquet(path)
    rows.get("rows").asInstanceOf[Long]
  }
}

/** ≙ `std.Out` (`io/std/out.go:29-60`): console printer. */
final case class ConsoleSink(numRows: Int = 20) extends Sink {
  def write(flow: Flow): Sink.Result =
    if (flow.bounded) {
      // single execution: take numRows+1 for display, count via agg job
      // only when the preview is truncated. Stamp order (uniq), not
      // arbitrary partition order — the reference's std.Out prints
      // sequentially, and every other ordered sink here honors uniq.
      val preview = flow.df.orderBy("uniq").limit(numRows + 1).collect()
      flow.df.sparkSession.createDataFrame(
        flow.df.sparkSession.sparkContext.parallelize(preview.take(numRows).toSeq),
        flow.df.schema).show(numRows, truncate = false)
      val n = if (preview.length <= numRows) preview.length.toLong else flow.df.count()
      Sink.Done(n)
    } else Sink.Streaming {
      // aggregated streams need Complete/Update; plain streams need
      // Append — try the plain mode first, fall back for aggregations
      // (≙ the reference's Count().TriggerEvery(..).Apply(std.Out))
      try Streams.start(flow.df)(_.format("console"))
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          Streams.start(flow.df)(_.format("console").outputMode("complete"))
      }
    }
}

/** ≙ `std.Out2` (`io/std/out2.go:31-83`) — the reference's abandoned
  * buffered-console experiment, realized on the lifecycle Spark already
  * provides. The reference version is a goroutine with a 100-element
  * buffer, a 50 ms flush ticker and ack-on-flush, self-documented as a
  * dead-end ("doesn't have a way of hooking into the termination
  * condition", out2.go:38; "the meaning of .TriggerEach and
  * .TriggerEvery is not clear", out2.go:39). Both problems are solved
  * structurally here:
  *
  *   - termination hook: `ForeachWriter.close()` IS the
  *     end-of-partition/epoch boundary — the remainder buffer flushes
  *     there, and a streaming epoch only COMMITS (≙ ack) after every
  *     partition's writer closed, which is exactly ack-on-flush;
  *   - trigger semantics: count-based flush is writer-LOCAL
  *     (`capacity`, this class); time-based flush is query-GLOBAL and
  *     belongs to the trigger (`Trigger.ProcessingTime` ≙ the 50 ms
  *     ticker) — not a ticker thread racing the writer.
  *
  * `emit` receives ONE string per flush (the `bufio.Writer` behavior);
  * the default prints to the task's console. Injectable like
  * [[AmqpLikeSink]]'s `publish`, which is also what makes the flush
  * batching testable. Output lands on the EXECUTOR running each
  * partition (the reference's per-process stdout, same as `std.Out`'s
  * streaming path). */
final case class ConsoleBatchedSink(capacity: Int = 100,
    emit: String => Unit = ConsoleBatchedSink.stdout)
  extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] with Sink {
  @transient private var buffer: ArrayBuffer[org.apache.spark.sql.Row] = _
  override def open(partitionId: Long, epochId: Long): Boolean = {
    buffer = ArrayBuffer.empty; true
  }
  override def process(row: org.apache.spark.sql.Row): Unit = {
    buffer += row
    if (buffer.length >= capacity) flushBuffer()
  }
  override def close(errorOrNull: Throwable): Unit =
    if (errorOrNull == null) flushBuffer()
  private def flushBuffer(): Unit = if (buffer != null && buffer.nonEmpty) {
    emit(buffer.map(_.toString).mkString("", "\n", "\n"))
    buffer.clear()
  }
  def write(flow: Flow): Sink.Result =
    if (flow.bounded) {
      // same open/process/close lifecycle, one writer per partition
      // (stamp order within each, like the streaming path)
      val self = this
      val sent = flow.spark.sparkContext.longAccumulator("console2_rows")
      flow.df.sortWithinPartitions("uniq")
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          self.open(0L, 0L)
          try { it.foreach { r => self.process(r); sent.add(1L) }; self.close(null) }
          catch { case e: Throwable => self.close(e); throw e }
        }
      Sink.Done(sent.value)
    } else Sink.Streaming(Streams.start(flow.df)(_.foreach(this)))
}

object ConsoleBatchedSink {
  val stdout: String => Unit = s => { Console.out.print(s); Console.out.flush() }
}

/** Parquet sink — the batch/file sink of our engine (beyond-reference;
  * scale path: partitioned columnar output). Unbounded flows stream
  * into the same directory with exactly-once file-sink semantics (the
  * checkpoint + file manifest log), so one sink serves the unified
  * bounded/unbounded contract like every other sink here. */
final case class ParquetSink(path: String, checkpoint: Option[String] = None) extends Sink {
  def write(flow: Flow): Sink.Result =
    if (flow.bounded) Sink.Done(Sink.writeCounted(flow.df, path))
    else Sink.Streaming(Streams.start(flow.df)(_.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint.getOrElse(s"$path/_graft_checkpoint"))))
}

/** Test sink collecting values driver-side (≙ the examples' stdout
  * golden checks; small data only — documented non-scale path). */
final class MemorySink extends Sink {
  val rows = ArrayBuffer.empty[org.apache.spark.sql.Row]
  def write(flow: Flow): Sink.Result = {
    // batch-only by design: an unbounded flow would crash deep inside
    // Spark (orderBy+collect on a streaming frame) — fail with the
    // remedy instead
    require(flow.bounded,
      "MemorySink is batch-only: bound the flow first (.limit(n)) or use a streaming sink")
    val collected = flow.df.orderBy("uniq").collect()
    rows ++= collected
    Sink.Done(collected.length.toLong)
  }
  def values: Seq[Any] = rows.map(_.getAs[Any]("value")).toSeq
}

/** Kafka-record sink contract (ref `kafka1.Sink`, `io/kafka1/sink.go:30-136`):
  * requires the KVMBinary shape — exactly the column contract of
  * `writeStream.format("kafka")`, so the real connector drops in where
  * this writes parquet. Delivery-report acking ≙ the streaming commit log. */
final case class KafkaLikeSink(path: String, checkpoint: Option[String] = None)
  extends Sink {
  override def inType: Option[DataType] = Some(graft.coders.Coders.kvmBinaryType)
  def write(flow: Flow): Sink.Result = {
    val kv = flow.df.select(
      flow.df.col("value").getField("key").as("key"),
      flow.df.col("value").getField("value").as("value"),
      flow.df.col("value").getField("headers").as("headers"))
    if (flow.bounded) Sink.Done(Sink.writeCounted(kv, path))
    else Sink.Streaming(
      // unbounded twin: exactly the column contract of
      // writeStream.format("kafka") — swap the format string and the
      // real producer drops in (offsets/acks ≙ the checkpoint log)
      Streams.start(kv)(_.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint.getOrElse(s"$path/_graft_checkpoint"))))
  }
}

/** AMQP-publisher-shaped sink (ref `amqp09.Sink`,
  * `io/amqp09/sink.go:30-115`): consumes `BINARY` bodies row-by-row via
  * a ForeachWriter — the Spark-idiomatic shape for a
  * confirm-per-message queue publisher. `publish` stands in for
  * `channel.Publish`; per-row open/process/close mirrors the
  * connection lifecycle.
  *
  * Scale: the default bounded path publishes from the EXECUTORS
  * (foreachPartition, stamp order within each partition — one
  * channel per task, like one goroutine per input partition in the
  * reference). `ordered = true` opts into the reference's global
  * publish order at the documented cost of a driver-side collect —
  * a single AMQP channel is inherently serial, so global order and
  * horizontal scale are mutually exclusive by construction. */
final case class AmqpLikeSink(publish: Array[Byte] => Unit, ordered: Boolean = false)
  extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] with Sink {
  override def inType: Option[DataType] = Some(org.apache.spark.sql.types.BinaryType)
  override def open(partitionId: Long, epochId: Long): Boolean = true
  override def process(row: org.apache.spark.sql.Row): Unit =
    publish(row.getAs[Array[Byte]]("value"))
  override def close(errorOrNull: Throwable): Unit = ()
  def write(flow: Flow): Sink.Result =
    if (flow.bounded) {
      if (ordered) {
        // one plan execution: the collected length IS the row count
        val rows = flow.df.orderBy("uniq").collect()
        rows.foreach(process)
        Sink.Done(rows.length.toLong)
      } else {
        val pub = publish
        val sent = flow.spark.sparkContext.longAccumulator("amqp_published")
        flow.df.sortWithinPartitions("uniq")
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r => pub(r.getAs[Array[Byte]]("value")); sent.add(1L) }
          }
        Sink.Done(sent.value)
      }
    } else Sink.Streaming(Streams.start(flow.df)(_.foreach(this)))
}
