package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loader for the driver-provided parquet tables (TESTDATA.md).
  *
  * Scale design: every accessor is a plain parquet scan through
  * [[Tables.read]] so Catalyst sees the file source directly — predicate
  * pushdown, column pruning and partition pruning all reach the parquet
  * reader. At 100 TB the same code path works unchanged against a
  * partitioned table dir; nothing here materializes or caches rows
  * driver-side (only a table's schema, see [[Tables.read]]).
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** The fixture's `ts` column has shipped in two shapes across driver
    * regenerations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects unless surfaced as raw longs — and plain
    * timestamp[us] (read as TIMESTAMP_NTZ). Branch on what the file
    * actually contains so either fixture loads; downstream queries
    * always see a session-zone TIMESTAMP (all entry points pin UTC, so
    * the NTZ cast is value-preserving). */
  def events: DataFrame = normalizeEventsTs(rawEvents)

  /** The fixture as the file presents it (`ts` still raw). ALSO the
    * schema source for streaming replays of the table (`readStream`
    * requires an explicit schema) — going through here keeps the
    * legacy-NANOS conf handling in one place. */
  def rawEvents: DataFrame =
    try t("events")
    catch {
      // legacy NANOS fixture: schema inference throws on the footer
      // unless nanos are read as longs. The conf is session-sticky by
      // design — only set on this path, and ONLY for the specific
      // illegal-timestamp error, so neither a micros fixture nor an
      // unrelated failure (missing file, IO error) flips global read
      // semantics.
      case e: Exception if isNanosSchemaError(e) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        t("events")
    }

  private def isNanosSchemaError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5).exists { c =>
      val m = Option(c.getMessage).getOrElse("")
      m.contains("PARQUET_TYPE_ILLEGAL") || m.contains("Illegal Parquet type") ||
        m.contains("TIMESTAMP(NANOS")
    }

  /** One dtype policy for every replay of the events fixture (batch
    * accessor above, streaming file replays in tests): whatever shape
    * `ts` arrived in, downstream sees a session-zone TIMESTAMP. */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        // integer `div`, NOT `/`: int64 nanos exceed double's 53-bit
        // mantissa, so float division rounds the microsecond off by ±1.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Register every table as a temp view so the full corpus is
    * queryable through `spark.sql(...)` — the SQL-first entry point
    * (Catalyst plans SQL and DataFrame code identically). */
  def registerViews(): Unit = {
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }
}

object Tables {
  /** What a cached schema was inferred under: the session's parquet read
    * settings and the path's listing as (name, length, modification time). */
  private final case class Inferred(conf: Seq[(String, String)],
                                    files: Seq[(String, Long, Long)],
                                    schema: StructType)

  /** One entry per qualified path: a changed listing or setting replaces it. */
  private val inferred = new ConcurrentHashMap[String, Inferred]()

  /** The one parquet read path for fixture tables and table roots.
    *
    * Spark infers a parquet schema with a distributed job (a footer
    * read, `parallelize(...).collect()`) on every schema-less read, even
    * of one file — a whole job per table read that computes nothing the
    * query returns. So the first read of a path infers as usual, and a
    * later read passes that schema back (`spark.read.schema(s)`), which
    * skips inference and its job. The schema is reused only while the
    * session's parquet read settings are the ones it was inferred under
    * and one `listStatus` of the path returns the same files and no
    * subdirectory; anything else (a rewritten file, a partitioned
    * directory, a path that does not list) is read the plain way.
    *
    * Only the schema is cached, never the DataFrame or its relation:
    * one Dataset on both sides of a self-join would change attribute
    * resolution. Plans and results are those of a plain read. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = readConf(spark)
    val listed = listing(spark, path)
    listed.flatMap { case (key, files) =>
      Option(inferred.get(key)).filter(e => e.conf == conf && e.files == files)
    } match {
      case Some(e) => spark.read.schema(e.schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        listed.foreach { case (key, files) => inferred.put(key, Inferred(conf, files, df.schema)) }
        df
    }
  }

  /** The session settings a parquet schema inference depends on. */
  private def readConf(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  /** The qualified path and its files, or None if it lists a
    * subdirectory or does not list at all. */
  private def listing(spark: SparkSession, path: String)
      : Option[(String, Seq[(String, Long, Long)])] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.listStatus(p).toSeq
      if (st.exists(_.isDirectory)) None
      else Some(fs.makeQualified(p).toString ->
        st.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted)
    } catch { case NonFatal(_) => None }
}
