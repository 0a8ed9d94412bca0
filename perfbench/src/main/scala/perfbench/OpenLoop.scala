package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.core.{Flow, Pipeline, RateSource, Sink}
import graft.streaming.{StreamConfig, Streams}

/** The `stream_open` workload: an open loop on an unbounded root.
  *
  * `RateSource(rate)` admits `rate` rows per second on a wall-clock
  * schedule that does not slow when the engine does, and stamps each row
  * with its due time. A goconnect-shaped chain follows: map, filter,
  * flatMap, then a keyed running fold in update mode whose rows carry the
  * newest contributing event time, then [[EmitSink]], which records when
  * each row was emitted. The payload is a closed form of the source's row
  * number `v` and the seed (`perfbench/oracle.py` recomputes it):
  *
  *  - map: `k = (v * a + b) mod 16`, `amt = (v * 31 + c) mod 1000`
  *  - filter: keep `amt mod 5 != 0`
  *  - flatMap: `(k, amt)` and `((k + 1) mod 16, amt / 2)`
  *  - fold per key: sum of amt, count, newest due time, newest `v`
  */
object OpenLoop {
  /** Admission rate, rows/s: a trigger then takes about half of the second
    * in which the next input falls due (NOTES.md, "Calibrating the open
    * loop"). */
  val Rate = 20000
  val Keys = 16
  /** The loop runs this long before the measured window opens: trigger
    * times fall for about the first 15 s of a JVM as the JIT settles. */
  val WarmupMs = 16000L
  /** State partitions of the fold: sized to its 16 keys, as
    * [[graft.streaming.StreamConfig]] advises, not to the core count. */
  val StatePartitions = 2

  /** One emitted fold row and when the sink received it. */
  final case class Emit(key: Int, sum: Long, count: Long, newestMs: Long, newestV: Long, atMs: Long)

  /** The seed's payload constants `(a, b, c)`. */
  def constants(seed: Long): (Long, Long, Long) =
    (1 + 2 * Math.floorMod(seed, 9973L), Math.floorMod(seed, 7919L), Math.floorMod(seed, 1000L))

  private val payload = StructType(Seq(StructField("k", IntegerType),
    StructField("amt", LongType), StructField("v", LongType)))

  def chain(spark: SparkSession, rate: Int, seed: Long): Flow = {
    val (a, b, c) = constants(seed)
    Pipeline(spark).root(RateSource(rate))
      .map(payload) { s =>
        val v = s.cast(LongType)
        struct(pmod(v * a + b, lit(Keys.toLong)).as("k"), pmod(v * 31 + c, lit(1000L)).as("amt"),
          v.as("v"))
      }
      .filter(p => pmod(p.getField("amt"), lit(5L)) =!= 0)
      .flatMap(p => array(p, struct(
        pmod(p.getField("k") + 1, lit(Keys)).as("k"),
        floor(p.getField("amt") / 2).cast(LongType).as("amt"),
        p.getField("v").as("v"))))
  }

  /** Keyed running fold (update mode emits only the keys a batch touched). */
  def fold(flow: Flow): Flow = flow.copy(df = flow.df
    .groupBy(col("value.k").as("k"))
    .agg(sum(col("value.amt")).as("sum"), count(lit(1)).as("cnt"),
      max(col("ts")).as("newest"), max(col("value.v")).as("newest_v")))

  /** Collects each update-mode batch on a processing-time trigger. */
  final class EmitSink(out: ConcurrentLinkedQueue[Emit]) extends Sink {
    def write(flow: Flow): Sink.Result = Sink.Streaming(
      Streams.triggerEvery(flow.df, "0 seconds", OutputMode.Update()) { batch: DataFrame =>
        val rows = batch.collect()
        val at = System.currentTimeMillis()
        rows.foreach { r =>
          out.add(Emit(r.getInt(0), r.getLong(1), r.getLong(2),
            r.getTimestamp(3).getTime, r.getLong(4), at))
        }
      })
  }

  /** A running loop: its query and what the sink has received so far. */
  final class Loop(val query: StreamingQuery, emitted: ConcurrentLinkedQueue[Emit]) {
    def emits: Seq[Emit] = emitted.asScala.toSeq
    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq
    /** Rows the source admitted: its last end offset is in whole seconds. */
    def admitted(rate: Int): Long =
      progress.lastOption.fold(0L)(_.sources.head.endOffset.trim.toLong * rate)
  }

  def start(spark: SparkSession, rate: Int, seed: Long): Loop = {
    val out = new ConcurrentLinkedQueue[Emit]()
    StreamConfig.withState(spark, StreamConfig.Settings(statePartitions = Some(StatePartitions))) {
      fold(chain(spark, rate, seed)).to(new EmitSink(out))
    } match {
      case Sink.Streaming(q) => new Loop(q, out)
      case other => sys.error(s"unbounded flow returned $other")
    }
  }
}
