package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelationWithTable}

/** Loader for the driver-provided parquet tables (TESTDATA.md).
  *
  * Scale design: every accessor is a plain parquet scan through
  * [[Tables.read]] so Catalyst sees the file source directly — predicate
  * pushdown, column pruning and partition pruning all reach the parquet
  * reader. At 100 TB the same code path works unchanged against a
  * partitioned table dir; nothing here materializes or caches rows
  * driver-side (only a table's resolved relation, see [[Tables.read]]).
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
  /** What a resolved relation was resolved under: the session's parquet
    * read settings and the path's listing as (name, length, modification
    * time). The relation holds the session that resolved it. */
  private final case class Resolved(conf: Seq[(String, String)],
                                    files: Seq[(String, Long, Long)],
                                    relation: HadoopFsRelation)

  /** One entry per qualified path: a changed listing or setting replaces it. */
  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /** The one parquet read path for fixture tables and table roots.
    *
    * A plain `spark.read.parquet` resolves its relation on every call:
    * it infers the schema with a distributed job (a footer read,
    * `parallelize(...).collect()`, even for one file), globs the path on
    * a new thread pool and lists the files into a new file index — work
    * that computes nothing the query returns. So the first read of a
    * path resolves as usual and keeps the `HadoopFsRelation`; a later
    * read by the same session wraps that relation in a new
    * `LogicalRelation` (`baseRelationToDataFrame`), with fresh attribute
    * ids, so a self-join of two reads resolves exactly as two plain
    * reads do. A read by another session (the first one stopped, say)
    * passes the kept schema back (`spark.read.schema(s)`), which skips
    * only the inference, and keeps its own relation.
    *
    * An entry is used only while the session's parquet read settings are
    * the ones it was resolved under and one `listStatus` of the path
    * returns the same files and no subdirectory; anything else (a
    * rewritten file, a partitioned directory, a path that does not list)
    * is read the plain way. Plans and results are those of a plain read.
    *
    * Every read also installs [[SmallSort]] on the session. */
  def read(spark: SparkSession, path: String): DataFrame = {
    SmallSort.install(spark)
    val conf = readConf(spark)
    val listed = listing(spark, path)
    listed.flatMap { case (key, files) =>
      Option(resolved.get(key)).filter(e => e.conf == conf && e.files == files)
    } match {
      case Some(e) if e.relation.sparkSession eq spark => spark.baseRelationToDataFrame(e.relation)
      case hit =>
        val df = hit.fold(spark.read.parquet(path))(e => spark.read.schema(e.relation.schema).parquet(path))
        for ((key, files) <- listed; r <- relationOf(df)) resolved.put(key, Resolved(conf, files, r))
        df
    }
  }

  private def relationOf(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelationWithTable(r: HadoopFsRelation, _) => r
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
