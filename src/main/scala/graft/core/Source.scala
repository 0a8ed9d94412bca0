package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A root transform (ref: goconnect `RootFn`, SURVEY §2.1). Produces the
  * canonical flow frame: a `value` column plus the element envelope —
  * `uniq` (≙ `Stamp.Uniq`, ordering/identity) and `ts` (≙ `Stamp.Unix`,
  * event time).
  *
  * Boundedness is a property of the source, not the pipeline — the same
  * downstream plan runs batch or streaming (ref `README.md:29`; SURVEY
  * §1.2 "streams vs tables").
  */
trait Source extends Serializable {
  def read(spark: SparkSession): DataFrame
  def isBounded: Boolean = true
}

/** A source with an admission-control knob (ref `.Throttle`,
  * `def.go:93-96` / `util/throttler.go:7-17`). In Spark the idiomatic
  * rate limit lives at the SOURCE (rate-source rows/sec, Kafka
  * `maxOffsetsPerTrigger`, file-source `maxFilesPerTrigger`) — the
  * engine's backpressure then bounds every downstream stage, which is
  * exactly what the reference's per-stage throttler achieves serially. */
trait Throttleable { this: Source =>
  /** A copy of this source admitting at most `count` elements per
    * second (rate sources) or per trigger (micro-batch sources). */
  def throttled(count: Int): Source
}

object Source {
  /** Stamp a raw frame with the element envelope. `uniq` uses
    * monotonically_increasing_id: unique + ascending within a partition —
    * the distributed analogue of the reference's atomic counter
    * (`context.go:469-474`); global order is restorable by sorting on it
    * (SURVEY §3.4 divergence note). */
  def stamp(df: DataFrame): DataFrame = {
    SmallSort.install(df.sparkSession)
    val withUniq =
      if (df.columns.contains("uniq")) df
      else if (df.isStreaming)
        // a streaming frame cannot synthesize a monotonic id
        // (monotonically_increasing_id is batch-only): derived
        // streaming emissions (e.g. an unbounded fold's running value,
        // ref kafka-count-stdout) are identified by content hash and
        // carry NO global order — order-sensitive combinators need a
        // source-provided uniq (the DSv2 id ≙ a Kafka offset)
        df.withColumn("uniq", xxhash64(df.columns.map(col): _*))
      else df.withColumn("uniq", monotonically_increasing_id())
    if (withUniq.columns.contains("ts")) withUniq
    else withUniq.withColumn("ts", current_timestamp())
  }
}

/** Bounded in-memory list source (ref `io.From`, `io/list.go:27-29`):
  * element i becomes the row (`value` = `toValue(values(i))`, `uniq` = i).
  *
  * The rows are a `LocalRelation`, so the plan carries its size (rows ×
  * row width) and Catalyst can tell a small list from a large input —
  * [[SmallSort]] sorts a small one in one task. It scans as a
  * `LocalTableScan` of `min(size, defaultParallelism)` slices, the
  * split `parallelize` would give. The list lives in the plan, as it
  * lives in the driver's memory already. */
final case class ListSource[T](values: Seq[T], toValue: T => Any = identity[T] _,
                               valueType: DataType = StringType) extends Source {
  def read(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = values.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(toValue(v), i.toLong)
    }
    val schema = StructType(Seq(
      StructField("value", valueType), StructField("uniq", LongType)))
    Source.stamp(spark.createDataFrame(rows.asJava, schema))
  }
}

/** Emits `n` elements cycling over `values` (ref `io.RoundRobin`,
  * `io/list.go:31-39`: `element i = values(i % len)`).
  *
  * Scale: `spark.range(n)` partitions the index space across executors —
  * a 10M-element root (ref example `list-avro-sr-kafka/main.go:116`) is
  * 32 parallel splits, not one goroutine. */
final case class RoundRobinSource(n: Long, values: Seq[String]) extends Source {
  def read(spark: SparkSession): DataFrame = {
    val arr = array(values.map(lit): _*)
    Source.stamp(spark.range(n)
      .select(
        element_at(arr, (col("id") % values.size).cast("int") + 1).as("value"),
        col("id").as("uniq")))
  }
}

/** Columnar-table pipeline root: a parquet table projected onto the
  * frame convention (`value` from `valueCol`, `uniq` from `uniqCol`) so
  * the Flow combinators run over table rows. The reference's roots are
  * lists and files (`io/list.go`, `io/file`); a table root is their
  * natural lakehouse extension — the scan stays a distributed file
  * source (pushdown/pruning reach parquet), and `uniq` rides an
  * existing unique key instead of a synthesized id, keeping
  * order-sensitive combinators deterministic across runs. */
final case class TableSource(path: String, valueCol: String, uniqCol: String)
  extends Source {
  def read(spark: SparkSession): DataFrame =
    Source.stamp(Tables.read(spark, path)
      .select(col(valueCol).as("value"), col(uniqCol).as("uniq")))
}

/** Directory listing source (ref `file.Source`, `io/file/source.go:29-64`
  * — one Url row per file). Built on Spark's binaryFile source so listing
  * scales through the driver's parallel file index, not a single node. */
final case class FileListSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = {
    val files = spark.read.format("binaryFile").load(path)
    Source.stamp(files.select(
      struct(
        lit("file").as("proto"),
        regexp_extract(col("path"), "^(?:file:)?(.*/)[^/]*$", 1).as("path"),
        regexp_extract(col("path"), "([^/]*)$", 1).as("name"),
        unix_timestamp(col("modificationTime")).as("mod")).as("value"),
      col("modificationTime").as("ts")))
  }
}

/** Whole-file contents source (ref `file.Reader`, `io/file/reader.go:30-74`
  * — Url → ByteStream; Spark's binaryFile gives the content column
  * directly, no laziness needed at the API). */
final case class BinaryFileSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame =
    Source.stamp(spark.read.format("binaryFile").load(path)
      .select(col("content").as("value"), col("modificationTime").as("ts")))
}

/** Line-oriented text source (ref `file.Text`, `io/file/text.go:28-60`). */
final case class TextFileSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame =
    Source.stamp(spark.read.text(path).select(col("value")))
}

/** Unbounded rate source — the zero-egress stand-in for the Kafka/AMQP
  * roots (SURVEY §2.1: connector jars absent; design so format("kafka")
  * drops in — same KVMBinary column contract, see [[KafkaLikeSource]]). */
final case class RateSource(rowsPerSecond: Int) extends Source with Throttleable {
  override def isBounded: Boolean = false
  override def throttled(count: Int): Source = copy(rowsPerSecond = count)
  def read(spark: SparkSession): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
      .select(col("value").cast(StringType).as("value"),
        col("value").as("uniq"), col("timestamp").as("ts"))
}

/** Kafka-record-shaped source (ref `kafka1.Source`,
  * `io/kafka1/source.go:39-162`): emits KVMBinary{key,value,headers} with
  * event-time `ts` from the record timestamp — exactly Spark's Kafka
  * source column contract, so swapping `delegate` for
  * `spark.readStream.format("kafka")` changes nothing downstream.
  * Offset/commit machinery (`source.go:80-135`) ≙ the streaming
  * checkpoint log; nothing to build. */
final case class KafkaLikeSource(delegate: Source) extends Source with Throttleable {
  override def isBounded: Boolean = delegate.isBounded
  /** ≙ setting `maxOffsetsPerTrigger` on the real Kafka source. */
  override def throttled(count: Int): Source = delegate match {
    case t: Throttleable => copy(delegate = t.throttled(count))
    case _ => this
  }
  def read(spark: SparkSession): DataFrame = {
    val df = delegate.read(spark)
    df.select(
      struct(
        lit(null).cast(BinaryType).as("key"),
        encode(col("value").cast(StringType), "UTF-8").as("value"),
        map().cast(MapType(StringType, BinaryType)).as("headers")).as("value"),
      col("uniq"), col("ts"))
  }
}

/** AMQP-queue-shaped source (ref `amqp09.Source`,
  * `io/amqp09/source.go:31-143`): emits raw `BINARY` message bodies with
  * at-least-once semantics. The zero-egress image has no AMQP client —
  * `delegate` stands in for the broker exactly as [[KafkaLikeSource]]
  * does for Kafka; cumulative-ack/prefetch machinery
  * (`source.go:96-143`) ≙ the streaming checkpoint + admission control.
  * A real connector implements the same contract as a DataSource V2
  * `SimpleDataSourceStreamReader` (SURVEY §2.1). */
final case class AmqpLikeSource(delegate: Source) extends Source with Throttleable {
  override def isBounded: Boolean = delegate.isBounded
  /** ≙ the broker prefetch/QoS bound (`io/amqp09/source.go:96-143`). */
  override def throttled(count: Int): Source = delegate match {
    case t: Throttleable => copy(delegate = t.throttled(count))
    case _ => this
  }
  def read(spark: SparkSession): DataFrame = {
    val df = delegate.read(spark)
    df.select(
      encode(col("value").cast(StringType), "UTF-8").as("value"),
      col("uniq"), col("ts"))
  }
}

/** Pipeline root over any DataSource V2 format (e.g. the bundled
  * [[graft.sources.RecordsDataSource]]): boundedness picks read vs
  * readStream — the same format string serves both, which is exactly
  * the reference's unified-boundedness contract (`README.md:29`). */
final case class DataSourceV2Source(format: String, options: Map[String, String],
                                    bounded: Boolean = true,
                                    valueCol: String = "body",
                                    tsCol: Option[String] = None,
                                    uniqCol: Option[String] = Some("id"),
                                    throttleKey: String = "rowsperbatch")
  extends Source with Throttleable {
  override def isBounded: Boolean = bounded
  /** Per-trigger admission cap via the connector's own option —
    * `rowsperbatch` for the bundled [[graft.sources.RecordsDataSource]];
    * a Kafka-backed format would pass `maxOffsetsPerTrigger` here. */
  override def throttled(count: Int): Source =
    copy(options = options + (throttleKey -> count.toString))
  def read(spark: SparkSession): DataFrame = {
    val reader =
      if (bounded) options.foldLeft(spark.read.format(format)) { case (r, (k, v)) => r.option(k, v) }.load()
      else options.foldLeft(spark.readStream.format(format)) { case (r, (k, v)) => r.option(k, v) }.load()
    // uniq comes from the SOURCE's own ordered id (≙ Kafka
    // partition+offset) — a streaming plan cannot synthesize one
    // (monotonically_increasing_id is batch-only), and the connector's
    // id is the durable, replay-stable identity anyway
    val base = reader.select(
      (col(valueCol).as("value") +:
        (uniqCol.map(c => col(c).as("uniq")).toSeq ++
          tsCol.map(c => col(c).as("ts")).toSeq)): _*)
    Source.stamp(base)
  }
}
