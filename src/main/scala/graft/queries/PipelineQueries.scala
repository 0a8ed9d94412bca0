package graft.queries

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-gated queries exercising the PIPELINE layer itself — the
  * `Pipeline.root(source).combinator...` surface (ref
  * `pipeline.go:60-136`) — rather than plain DataFrame shapes. These
  * upgrade §2 rows that previously had only unit coverage (io.From,
  * Processor/FlatMap, str.Split, file.Text) to DuckDB-oracled gates.
  */
object PipelineQueries {

  /** io.From (ListSource) under oracle: a bounded in-memory root
    * mapped through a pipeline stage. The reference's From is the
    * canonical example root (`io/list.go:27-29`); the gate pins the
    * uniq-indexed order contract (element i keeps uniq=i through maps).
    * Scale: the list parallelizes across at most one split per core
    * (`defaultParallelism`) at read. */
  def pFromList(spark: SparkSession, dir: String): DataFrame =
    Pipeline(spark)
      .root(ListSource((0 until 500).map(_.toString)))
      .map(StringType)(v => concat(v, lit("!")))
      .df
      .select(col("uniq").as("i"), col("value"))
      .orderBy("i")

  /** Processor/FlatMap + str.Split under oracle: a parquet TABLE root
    * ([[TableSource]]) split on a literal separator, emitting every
    * token WITH its fan-out position — the order-preserving flatMap
    * contract (`processor.go:203-270`: children keep parent order) is
    * what the oracle hash-checks, token by token, position by position.
    *
    * Scale: the doc_id filter sits on the pre-explode struct field, and
    * Catalyst collapses `struct(uniq,·).major` back to the scan column,
    * so the predicate pushes below the generator into the parquet scan
    * (PlanSpec pins pushdown shapes for the same pattern elsewhere);
    * the explode is generator-streamed, never buffered per doc. */
  def pSplitFlatmap(spark: SparkSession, dir: String): DataFrame =
    Pipeline(spark)
      .root(TableSource(s"$dir/documents.parquet", "text", "doc_id"))
      .split(" ")
      .df
      .filter(col("uniq.major") < 40)
      .select(col("uniq.major").as("doc_id"),
        col("uniq.minor").cast(LongType).as("pos"),
        col("value").as("tok"))
      .orderBy("doc_id", "pos")

  /** FoldFn + .TriggerEach under oracle: the running fold emission
    * cadence (`context.go:344-364,446-450` — emit the RUNNING
    * accumulator every n inputs, plus the final flush at end of
    * bounded input, `README.md:96`). A table root mapped to per-doc
    * token counts, folded with sum, emitted every 100 elements: the
    * oracle recomputes the prefix sums at exactly the trigger
    * positions, so the hash check pins BOTH the accumulator values
    * and the emission schedule.
    *
    * Scale: foldTriggered is the two-phase distributed prefix (range
    * partition + per-partition window + P-row offset shift), never a
    * single-partition global window — PrefixSpec covers the engine. */
  def pFoldTrigger(spark: SparkSession, dir: String): DataFrame =
    Pipeline(spark)
      .root(TableSource(s"$dir/documents.parquet", "text", "doc_id"))
      .map(LongType)(v => size(split(trim(v), "\\s+")).cast(LongType))
      .foldTriggered(100)(sum)
      .df
      .select(col("uniq").as("n"), col("value").as("running_total"))
      .orderBy("n")

  /** file.Reader (BinaryFileSource) under oracle: a sample of documents
    * staged as individual files, read back as whole-file BYTES through
    * the binary root (`io/file/reader.go:30-74`: Url → ByteStream),
    * str-decoded and compared to the table. Exercises the content
    * column end-to-end, not just the listing.
    *
    * Scale: binaryFile is a distributed file source (one task per
    * split); the 50-file stage is gate scratch, deleted after the
    * eager materialization boundary like [[pTextFile]]. */
  def pBinaryFile(spark: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft-binsrc").toString
    val docs = Tables(spark, dir).documents
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text")).collect() // 50 bounded rows: staging only
    docs.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$stage/${r.getLong(0)}.txt"),
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    try
      Pipeline(spark)
        .root(BinaryFileSource(stage))
        .via(graft.coders.Coders.strDecoder)
        .df
        .select(col("value"))
        .orderBy("value")
        .localCheckpoint(true)
    finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  /** file.Text (TextFileSource) under oracle: documents staged to real
    * line-oriented text files, read back through the file root, lines
    * compared to the table they came from. The staged files are
    * per-call scratch: the flow is materialized (eager localCheckpoint)
    * BEFORE the directory is deleted, because the gate's frame is
    * executed again later by Verify/Bench actions.
    *
    * Scale: `spark.read.text` distributes line splitting across file
    * splits; the checkpoint is gate-hygiene, not part of the operator. */
  def pTextFile(spark: SparkSession, dir: String): DataFrame = {
    val stage = java.nio.file.Files.createTempDirectory("graft-textsrc").toString
    Tables(spark, dir).documents
      .filter(col("doc_id") < 200)
      .select(col("text"))   // no embedded newlines in the fixture: 1 doc = 1 line
      .write.mode("overwrite").text(s"$stage/txt")
    try
      Pipeline(spark)
        .root(TextFileSource(s"$stage/txt"))
        .df
        .select(col("value"))
        .orderBy("value")
        .localCheckpoint(true)
    finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }
}
