package graft.queries

import graft.streaming.{StreamConfig, Streams}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Correctness-gated Structured Streaming queries: real `readStream`
  * plans run to completion of available data (AvailableNow ≙ the
  * reference's "Limit makes any pipeline bounded", `def.go:88-91`), so
  * the gate exercises the streaming engine end-to-end — source →
  * stateful agg → sink — not just batch twins of streaming ops.
  */
object StreamQueries {

  /** q27: the documents table replayed as a micro-batch FILE STREAM,
    * aggregated with a streaming groupBy in Complete mode, final state
    * returned as a batch frame for the DuckDB oracle.
    *
    * Scale: the file stream admits files per trigger
    * (maxFilesPerTrigger), the aggregation is keyed state in the state
    * store (partitioned by the grouping key across executors), and the
    * checkpoint makes the run resumable — the same plan, pointed at a
    * Kafka topic instead of a directory, is the production pipeline. */
  def q27StreamE2e(spark: SparkSession, dir: String): DataFrame = {
    // file stream sources need an explicit schema: take the batch
    // table's (no data scan; Tables.read runs a footer-inference job only
    // on the driver's first read of the file)
    val schema = graft.core.Tables(spark, dir).documents.schema
    // the stream's basePath must be a DIRECTORY: stream the table dir
    // with a glob filter selecting just this table's file(s).
    // 8 state partitions (r19): same StreamConfig bracket as the replay
    // gates — the Complete-mode agg pays a per-partition state commit
    // per micro-batch, and |langs × sources| keys never need 32 stores
    // at gate scale (the knob and its 100 TB sizing guidance live on
    // graft.streaming.StreamConfig)
    val (streamed, last) = StreamConfig.withState(spark,
      StreamConfig.Settings(statePartitions = Some(8))) {
      val s = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"))
      var rows: Array[Row] = Array.empty
      Streams.runAvailableNow(s, OutputMode.Complete()) { b =>
        rows = b.collect() // final Complete-mode state: |langs × sources| rows
      }
      (s, rows)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(last.toSeq),
        streamed.schema)
      .orderBy("lang", "source")
  }

  /** q35: a Count-Min sketch built BY THE STREAM — the cells table of
    * [[graft.operators.Sketches.cmsCells]] is a plain additive
    * groupBy-count, so it runs unchanged as a streaming aggregation
    * whose keyed state IS the sketch, merged across micro-batches by
    * the engine (the mergeability property that makes CMS the standard
    * streaming-frequency structure). The final Complete-mode state is
    * then probed batch-side for the exact top-15 event users: the
    * stream-built estimates must equal the batch-built ones cell for
    * cell, which is exactly what the (batch) oracle pins.
    *
    * The stream projects ONLY (event_id, user_id) via an explicit
    * subset schema — the ts column (historically nanos-typed, see
    * Tables.normalizeEventsTs) never enters the plan.
    *
    * Scale: stateless explode ×depth on the stream, then state bounded
    * at depth·width rows per aggregation — constant regardless of
    * stream length; the probe side is a batch join against the final
    * sketch. */
  def q35StreamCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val (depth, width) = (4, 64) // 150 users at sf0.01 ⇒ real collisions
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType)))
    // cmsTable itself: the batch build IS the streaming build (an
    // additive groupBy-count runs unchanged as streaming state) — one
    // definition, so the stream-built == batch-built invariant can't
    // drift between two hand copies
    // 8 state partitions (r19): the sketch state is ≤ depth·width keyed
    // rows — same StreamConfig bracket + rationale as q27/q31
    val (cells, last) = StreamConfig.withState(spark,
      StreamConfig.Settings(statePartitions = Some(8))) {
      val c = Sketches.cmsTable(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir),
        "user_id", depth, width)
      var rows: Array[Row] = Array.empty
      Streams.runAvailableNow(c, OutputMode.Complete()) { b =>
        rows = b.collect() // ≤ depth·width rows: the sketch itself
      }
      (c, rows)
    }
    val sketch = spark.createDataFrame(
      spark.sparkContext.parallelize(last.toSeq), cells.schema)
    val exact = graft.core.Tables(spark, dir).events
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    // two-level top-k (r20, guide §2.4, same shape as Sketches.cmsVerified):
    // TakeOrdered selects the 15 survivors distributed, the rank window
    // then covers 15 rows (constant partition key → no unbounded
    // single-partition WindowExec); order (cnt desc, user_id) is total,
    // so rows and ranks are unchanged
    val top = exact.orderBy(col("cnt").desc, col("user_id")).limit(15)
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(0))
          .orderBy(col("cnt").desc, col("user_id"))).cast("long"))
    top.join(Sketches.cmsEstimate(sketch, top, "user_id", depth, width),
        Seq("user_id"))
      .select(col("user_id"), col("rnk"), col("cnt"), col("cms_est"),
        (col("cms_est") >= col("cnt")).as("ge_ok"))
      .orderBy("rnk")
  }

  /** Write `df` as exactly ONE parquet file at `path` with a controlled
    * modification time — the unit of one micro-batch for a
    * maxFilesPerTrigger=1 file stream (FileStreamSource admits files in
    * modification-time order, so the mtimes fix the batch sequence). */
  private[graft] def stageOneFile(df: DataFrame, path: String, mtime: Long): Unit = {
    val tmp = path + ".stage"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    Files.createDirectories(Paths.get(path).getParent)
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(path).setLastModified(mtime)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** Stage N DISJOINT slices as `<dir>/<i>.parquet` micro-batch files
    * (mtime `t0 + i·10 s`, the [[stageOneFile]] sequencing convention)
    * in ONE Spark job instead of one write job per slice (r19, guide
    * §1.2: the per-slice jobs — each a scan + coalesce(1) + parquet
    * commit against the scratch FS — dominated the staging phase of
    * every replay gate). The slices ride one union tagged with a
    * literal `__batch`, shuffled by it (each batch value lands in one
    * task → exactly one part file per partition dir; `partitionBy`
    * keeps `__batch` out of the file payload, so the staged schema is
    * the slice schema unchanged), then the files are renamed into the
    * numbered layout. Row ORDER within a staged file changes vs the
    * per-slice form — every consumer is a streaming agg / join / state
    * machine over the batch as a SET, and the gates' outputs are
    * explicitly ordered, so order inside a batch is not part of any
    * gate's semantics. Slices must be non-empty (an empty slice writes
    * no part file — same failure the per-slice form had). */
  private[graft] def stageBatchFiles(slices: Seq[DataFrame], dir: String,
                                     t0: Long): Unit = {
    require(slices.nonEmpty, "stageBatchFiles needs at least one slice")
    val tagged = slices.zipWithIndex
      .map { case (df, i) => df.withColumn("__batch", lit(i)) }
      .reduce(_ unionByName _)
    val tmp = dir + ".stage"
    tagged.repartition(col("__batch"))
      .write.mode("overwrite").partitionBy("__batch").parquet(tmp)
    Files.createDirectories(Paths.get(dir))
    slices.indices.foreach { i =>
      val pdir = new java.io.File(s"$tmp/__batch=$i")
      val part = Option(pdir.listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for staged batch $i under $tmp"))
      val dest = Paths.get(dir, s"$i.parquet")
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(t0 + i * 10000L)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** q31: watermarked STREAM-STREAM interval join under oracle —
    * [[Streams.intervalJoin]] (clicks paired with same-user views from
    * the preceding hour) run as two real file streams over a 2-batch
    * replay of the events table, with the full pair set hash-checked
    * against a DuckDB batch interval join.
    *
    * The replay splits the fixture at its temporal midpoint, one file
    * per micro-batch, so the join CROSSES a batch boundary: views
    * buffered in batch 0's state must match clicks arriving in batch 1.
    * Because the split is by event time, the streamed result equals the
    * batch join exactly — eviction (watermark 1 h + lookback 1 h) can
    * only drop view state whose entire match window closed inside an
    * earlier batch (a view is evicted iff v_ts + 1 h < wm = max₀ − 1 h,
    * and all its candidate clicks ≤ v_ts + 1 h then lie before the
    * split), so completeness is provable, not incidental. State-store
    * eviction itself (numRowsRemoved > 0) is asserted in StreamingSpec.
    *
    * Scale: both sides shuffle once on user_id; state per key is
    * bounded by watermark + lookback — this plan pointed at two Kafka
    * topics is the production impression-attribution join. */
  def q31StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    // stage only the two event types that can join: the other three
    // never produce pairs but would be scanned by BOTH stream sources
    // every batch (each side reads the full staged file before its
    // type filter)
    // materialized once: the min/max agg and BOTH staging writes read
    // it, so without the persist the source parquet is scanned three
    // times per invocation (and Bench invokes the gate several times)
    val ev = graft.core.Tables(spark, dir).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .filter(col("event_type").isin("click", "view"))
      .persist()
    val stage = Files.createTempDirectory("graft-sjoin").toString
    try {
      val Row(tMin: java.sql.Timestamp, tMax: java.sql.Timestamp) =
        ev.agg(min("ts"), max("ts")).head()
      val split = new java.sql.Timestamp((tMin.getTime + tMax.getTime) / 2)
      val t0 = System.currentTimeMillis() - 120000L
      stageBatchFiles(Seq(
        ev.filter(col("ts") < lit(split)),
        ev.filter(col("ts") >= lit(split))), s"$stage/in", t0)
    } finally ev.unpersist()
    val schema = ev.schema
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Row]
    // 8 state partitions for the gate run — the join keeps 4 state
    // stores and every micro-batch pays a per-partition commit per
    // store (the measurement and the 100 TB sizing guidance live on
    // graft.streaming.StreamConfig, the named config surface for these
    // knobs; the bracket also guarantees the conf is in force while
    // the stream frames are CONSTRUCTED, which is when it binds)
    try StreamConfig.withState(spark,
      StreamConfig.Settings(statePartitions = Some(8))) {
      def src() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stage/in")
      val clicks = src().filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = src().filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val joined = Streams.intervalJoin(clicks, views,
          keyCol = "user_id", lookback = "1 hour", watermark = "1 hour")
        .select(col("l.event_id").as("click_id"), col("r.event_id").as("view_id"),
          col("l_key").as("user_id"))
      Streams.runAvailableNow(joined, OutputMode.Append()) { b =>
        emitted ++= b.collect() // inner join append mode: each pair exactly once
      }
      spark.createDataFrame(
          spark.sparkContext.parallelize(emitted.toSeq),
          joined.schema)
        .orderBy("click_id", "view_id")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  /** q30: watermark/late-data semantics under oracle — the engine's
    * append-mode windowed aggregation with REAL late rows, bounded so
    * DuckDB can recompute the exact emitted set.
    *
    * Spark's measured drop rule (pinned in LateDataSpec): the late-row
    * filter of batch N uses the watermark that EVICTED at the end of
    * batch N-1 (max event time through batch N-2 minus the delay) — a
    * late row is dropped iff its window was already emitted in a prior
    * batch. The late slice therefore arrives two batches after the
    * bulk, so the bulk's max timestamp gates it:
    *
    *  - batch 0: the bulk (event_id % 10 != 0);
    *  - batch 1: the ADVANCE slice (event_id % 20 == 10) — processed
    *    unfiltered; at its end, eviction with wm = max(bulk ts) −
    *    1801 s emits every window closed by the bulk;
    *  - batch 2: the LATE slice (event_id % 20 == 0, spread across the
    *    whole time range) — rows whose window was evicted are dropped
    *    by the engine, the rest aggregate (late-but-open);
    *  - batch 3: one future sentinel row (max ts + 10 h) that pushes
    *    the final watermark past every real window, so append mode
    *    emits them all; the sentinel's own window stays open and is
    *    never emitted.
    *
    * Oracle: the same windowed agg over (bulk ∪ advance ∪ late rows
    * whose window end outlived the bulk watermark) — a pure DuckDB
    * computation, no streaming required. This is the hard gate for
    * `withWatermark` + append-mode expiry ([[Streams.tumblingCounts]]
    * semantics); unit specs cover the same path with synthetic rows,
    * this covers it against an independent engine at gate scale. */
  def q30LateData(spark: SparkSession, dir: String): DataFrame = {
    // persisted once: the maxTs agg and three staged slices otherwise
    // scan the source four times per invocation
    val ev = graft.core.Tables(spark, dir).events
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .persist()
    val stage = Files.createTempDirectory("graft-late").toString
    val bulk = ev.filter(col("event_id") % 10 =!= 0)
      .select("ts", "event_type", "value")
    val advance = ev.filter(col("event_id") % 20 === 10)
      .select("ts", "event_type", "value")
    val late = ev.filter(col("event_id") % 20 === 0)
      .select("ts", "event_type", "value")
    try {
      val maxTs = ev.agg(max("ts")).first().getTimestamp(0)
      val sentinel = spark.range(1).select(
        lit(new java.sql.Timestamp(maxTs.getTime + 36000000L)).as("ts"),
        lit("__wm_flush").as("event_type"), lit(0.0).as("value"))
      val t0 = System.currentTimeMillis() - 120000L
      stageBatchFiles(Seq(bulk, advance, late, sentinel), s"$stage/in", t0)
    } finally ev.unpersist()
    val schema = bulk.schema
    // 8 state partitions for the gate run, same rationale (and same
    // restore discipline) as q31StreamJoin: per-batch per-partition
    // state commits dominate a 5-trigger replay at gate scale — the
    // knob, measurements and 100 TB sizing guidance live on
    // graft.streaming.StreamConfig
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Row]
    val streamed = try StreamConfig.withState(spark,
      StreamConfig.Settings(statePartitions = Some(8))) {
      val s = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$stage/in")
        .withWatermark("ts", "1801 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))
      Streams.runAvailableNow(s, OutputMode.Append()) { b =>
        emitted ++= b.collect() // append mode: each window exactly once
      }
      s
    } finally
      // the staged replay files are per-call scratch — without cleanup
      // every bench/verify invocation leaks a 4-file dir into /tmp
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    spark.createDataFrame(
        spark.sparkContext.parallelize(emitted.toSeq),
        streamed.schema)
      .orderBy("window_start", "event_type")
  }

  /** q38: streaming SESSIONIZATION under oracle — the skew-hardened
    * [[Streams.closedSessionsPreMerged]] (per-partition gap pre-merge →
    * keyed interval-map state, emit only on provable closure) run as a
    * REAL 3-micro-batch file stream over a temporal split of the events
    * table, plus a far-future sentinel batch that advances the
    * watermark past every real session's close. Every closed session of
    * every user is hash-checked against a DuckDB window-function
    * sessionization — the batch==stream thesis applied to custom keyed
    * state (the q17 batch gate's semantics; boundary rule: an event at
    * exactly gap after the session end opens a NEW session, the native
    * `session_window` [t, t+gap) convention, which the oracle mirrors
    * with `>=`).
    *
    * Why stream == batch holds exactly: the split is CHRONOLOGICAL
    * (thirds of the time range), so no event is ever late — the
    * interval machine's gap closure over any arrival order equals the
    * sorted fold, and closure (end + gap <= watermark) is eventually
    * provable for every real session because the sentinel lies a year
    * past the fixture. The sentinel's own (still-open) session is the
    * one row never emitted — dropped by key, not by position.
    *
    * Scale: one shuffle on user_id into the state store; per-key state
    * is the OPEN interval list; the pre-merge collapses a hot user's
    * in-batch rows to distinct sessions before the exchange (the
    * StreamingSpec skew fixture pins the collapse). */
  def q38StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.core.Tables(spark, dir).events
      .select(col("user_id"), col("ts")).persist()
    val stage = Files.createTempDirectory("graft-ssess").toString
    try {
      val Row(tMin: java.sql.Timestamp, tMax: java.sql.Timestamp) =
        ev.agg(min("ts"), max("ts")).head()
      val (lo, hi) = (tMin.getTime, tMax.getTime)
      val t1 = new java.sql.Timestamp(lo + (hi - lo) / 3)
      val t2 = new java.sql.Timestamp(lo + 2 * (hi - lo) / 3)
      val m0 = System.currentTimeMillis() - 120000L
      // sentinel: one far-future event on a reserved key — closes every
      // real session via the watermark, never meets a real user's state
      import spark.implicits._
      stageBatchFiles(Seq(
        ev.filter(col("ts") < lit(t1)),
        ev.filter(col("ts") >= lit(t1) && col("ts") < lit(t2)),
        ev.filter(col("ts") >= lit(t2)),
        Seq((-1L, new java.sql.Timestamp(hi + 365L * 86400000L)))
          .toDF("user_id", "ts")), s"$stage/in", m0)
    } finally ev.unpersist()
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Row]
    val out = try StreamConfig.withState(spark,
      StreamConfig.Settings(statePartitions = Some(8))) {
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$stage/in")
      val sessions = Streams.closedSessionsPreMerged(src, "user_id", "ts",
        gap = "30 minutes", watermark = "0 seconds").toDF("k", "n", "s", "e")
      Streams.runAvailableNow(sessions, OutputMode.Append()) { b =>
        emitted ++= b.collect() // each closed session exactly once
      }
      spark.createDataFrame(
          spark.sparkContext.parallelize(emitted.toSeq), sessions.schema)
        .filter(col("k") =!= "-1")
        .select(col("k").cast("long").as("user_id"),
          col("s").as("session_start"), col("e").as("session_end"),
          col("n").as("n_events"))
        .orderBy("user_id", "session_start")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    out
  }

  /** q39's fixture split, shared with StreamingSpec's lateness proof:
    * batch 0 carries the first two-thirds of the time range MINUS a
    * held-out slice (`event_id % 5 == 0`); batch 1 delivers the final
    * third PLUS that held-out slice — rows that predate batch 0's max
    * event time by up to two-thirds of the range, i.e. genuinely LATE.
    * The watermark delay is the full range + 1 h, so every late row is
    * still IN-HORIZON (the stateful operator's late-row filter uses the
    * watermark as of the END of the previous batch = batch0Max − delay
    * < min ts — nothing is dropped) and must MERGE into or EXTEND the
    * open sessions batch 0 already built in state. */
  private[graft] final case class LateSessionFixture(
      batch0: DataFrame, batch1: DataFrame, loMs: Long, hiMs: Long,
      watermarkDelay: String)

  private[graft] def lateSessionFixture(ev: DataFrame): LateSessionFixture = {
    val Row(tMin: java.sql.Timestamp, tMax: java.sql.Timestamp) =
      ev.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (tMin.getTime, tMax.getTime)
    val t2 = new java.sql.Timestamp(lo + 2 * (hi - lo) / 3)
    val early = col("ts") < lit(t2)
    val held = col("event_id") % 5 === 0
    val delaySec = (hi - lo) / 1000 + 3600
    LateSessionFixture(
      ev.filter(early && !held).select("user_id", "ts"),
      ev.filter(!early || held).select("user_id", "ts"),
      lo, hi, s"$delaySec seconds")
  }

  /** q39: LATE-ARRIVAL streaming sessionization under oracle (r15
    * verdict #5) — the same operator and oracle as q38, but the split
    * is NON-chronological and the watermark delay nonzero, so the
    * interval machine's late paths run under the DuckDB hash gate
    * instead of only under unit/property tests: batch 1's held-out
    * events predate batch 0's session ends (StreamingSpec asserts this
    * on the shared fixture), so they must back-neighbor-MERGE into and
    * EXTEND sessions already sitting open in state — and with the
    * delay exceeding the whole time range, EVERY user's full session
    * list stays open simultaneously (the multi-open-session state
    * shape) until one far-future sentinel closes them all. Because no
    * event is ever out-of-horizon, the emitted set equals the complete
    * batch sessionization: the q38 oracle adjudicates both delivery
    * schedules.
    *
    * Scale note: the range-sized watermark delay is the FIXTURE's
    * device for forcing maximal lateness at gate scale; production
    * pipelines set the delay to their real out-of-orderness bound, and
    * state stays O(open sessions within horizon) per key either way —
    * the per-key interval map only grows with sessions the watermark
    * has not yet provably closed. */
  def q39StreamSessionsLate(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.core.Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("ts")).persist()
    val stage = Files.createTempDirectory("graft-lsess").toString
    val fx = try {
      val f = lateSessionFixture(ev)
      val m0 = System.currentTimeMillis() - 120000L
      // sentinel: far enough past the range that wm = ts − delay clears
      // every real session's end + gap
      import spark.implicits._
      stageBatchFiles(Seq(
        f.batch0.select(col("user_id"), col("ts")),
        f.batch1.select(col("user_id"), col("ts")),
        Seq((-1L,
            new java.sql.Timestamp(f.hiMs + (f.hiMs - f.loMs) + 3600000L +
              365L * 86400000L)))
          .toDF("user_id", "ts")), s"$stage/in", m0)
      f
    } finally ev.unpersist()
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Row]
    val out = try StreamConfig.withState(spark,
      StreamConfig.Settings(statePartitions = Some(8))) {
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$stage/in")
      val sessions = Streams.closedSessionsPreMerged(src, "user_id", "ts",
        gap = "30 minutes", watermark = fx.watermarkDelay).toDF("k", "n", "s", "e")
      Streams.runAvailableNow(sessions, OutputMode.Append()) { b =>
        emitted ++= b.collect() // each closed session exactly once
      }
      spark.createDataFrame(
          spark.sparkContext.parallelize(emitted.toSeq), sessions.schema)
        .filter(col("k") =!= "-1")
        .select(col("k").cast("long").as("user_id"),
          col("s").as("session_start"), col("e").as("session_end"),
          col("n").as("n_events"))
        .orderBy("user_id", "session_start")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    out
  }
}
