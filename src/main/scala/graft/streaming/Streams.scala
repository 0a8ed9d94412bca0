package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import scala.collection.mutable.ArrayBuffer

/** Structured-Streaming surface (SURVEY §7.2-M4): the reference's
  * unbounded semantics — `TriggerEvery` ≙ `Trigger.ProcessingTime`,
  * `TriggerEach` ≙ per-batch fold emission, `Limit` on unbounded ≙
  * `Trigger.AvailableNow` bounding, `Stamp.Unix` ≙ event-time column +
  * watermark — plus the windows/late-data handling the reference lacks
  * (`README.md:70-88` planned items; Spark native).
  *
  * Scale: all stateful ops below are keyed state in the state store —
  * per-key state is O(1) and partitioned by the grouping key, so state
  * scales horizontally with executors. Watermarks bound state size for
  * the windowed/session/dedup ops; [[runningSumPerKey]] is the one
  * deliberate exception (state bounded by key cardinality — see its
  * doc).
  */
object Streams {

  /** Event-time tumbling window aggregation with watermark-based
    * late-data expiry — a sliding window whose slide equals its width. */
  def tumblingCounts(df: DataFrame, tsCol: String, width: String,
                     watermark: String): DataFrame =
    slidingCounts(df, tsCol, width, width, watermark)

  /** Sliding window counts. */
  def slidingCounts(df: DataFrame, tsCol: String, width: String, slide: String,
                    watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** Native session windows (gap-based). */
  def sessionCounts(df: DataFrame, tsCol: String, keyCol: String, gap: String,
                    watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("session_window.start").as("session_start"), col("n"))

  /** Custom keyed state — the `mapGroupsWithState` path for state Spark's
    * native windows can't express (running per-key accumulator with
    * goconnect fold semantics: emit the running value on every trigger,
    * ref `context.go:344-369`).
    *
    * State bound: one long per DISTINCT key, forever — the reference's
    * fold never expires, so neither does this (NoTimeout is the honest
    * translation). That bounds state by key CARDINALITY, not time:
    * right for bounded key domains (metrics by type, per-tenant
    * counters); an unbounded key domain (per-user/session ids) needs
    * the watermark-evicted ops below instead. */
  def runningSumPerKey(ds: Dataset[(String, Long)]): Dataset[(String, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (key: String, values: Iterator[(String, Long)], state: GroupState[Long]) =>
          val acc = state.getOption.getOrElse(0L) + values.map(_._2).sum
          state.update(acc)
          (key, acc)
      }
  }

  /** Per-key session accumulator for [[closedSessions]] — start/end in
    * event-time MICROSECONDS (Spark timestamps are microsecond-typed;
    * `Timestamp.getTime` alone would silently truncate to milliseconds
    * and corrupt every emitted boundary on µs-grained data). */
  final case class SessionAcc(start: Long, end: Long, n: Long)

  /** Exact epoch-microseconds of a Timestamp (getTime carries ms; the
    * sub-millisecond part lives in getNanos). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
    t
  }
  /** [[closedSessions]] keyed state: ALL of a key's still-open
    * sessions, oldest first — more than one can be open at once while
    * the watermark trails the data (a late in-horizon event may yet
    * merge or extend any of them).
    *
    * STATE-FORMAT VERSIONING (ADVICE r15 #4): start/end switched from
    * milliseconds to microseconds in r15 — a stream restarted from a
    * pre-change checkpoint would silently reinterpret ms state as µs
    * (1000× too small) and emit corrupted boundaries. `unitVersion`
    * (2 = epoch-microseconds) changes the state SCHEMA, so Spark's
    * state-schema compatibility check fails such a restart LOUDLY at
    * query start instead; restarts across the change need a fresh
    * checkpoint dir (and fresh state), which the error makes explicit. */
  final case class SessionsAcc(sessions: List[SessionAcc],
                               unitVersion: Int = SessionsAcc.UnitMicros)
  object SessionsAcc {
    /** start/end unit: 2 = epoch-µs (1 was the r14 epoch-ms format). */
    val UnitMicros = 2
  }

  /** Closed-session emission via `flatMapGroupsWithState` — the custom
    * keyed-state machine for semantics the native `session_window`
    * cannot express: emit a session ONLY when it has provably closed,
    * never partial updates — the streaming generalization of the
    * reference's fold/trigger state machine (`context.go:332-455`).
    *
    * Closure is a WATERMARK property, not an in-batch one: a session
    * is emitted only once `end + gap <= watermark`, because until then
    * a late-but-in-horizon event can still extend it (or merge two
    * in-batch sessions) — an in-batch gap alone proves nothing when
    * the watermark delay is nonzero. Events at exactly `end + gap`
    * open a NEW session (strict `<` merge), matching the native
    * `session_window` [t, t+gap) boundary, so this operator and
    * [[sessionCounts]] agree on session membership.
    *
    * Scale: state is the list of OPEN sessions per active key (almost
    * always one; more only while the watermark trails a gap),
    * partitioned by key across the state store; the event-time timeout
    * fires when the oldest session's close becomes provable, so state
    * tracks concurrent in-horizon sessions, not history. */
  def closedSessions(df: DataFrame, keyCol: String, tsCol: String,
                     gap: String, watermark: String)
    : Dataset[(String, Long, java.sql.Timestamp, java.sql.Timestamp)] = {
    val gapMicros = parseGapMicros(gap)
    // each event enters the shared interval-merge machine as the
    // degenerate [t, t] interval; the watermark is asserted on the
    // interval END (same values as the raw event-time column, asserted
    // AFTER the projection so exactly one column carries the event-time
    // metadata)
    val iv = df.select(col(keyCol).cast("string").as("k"),
        col(tsCol).as("s"), col(tsCol).as("e"), lit(1L).as("n"))
      .withWatermark("e", watermark)
    mergeIntervalSessions(iv, gapMicros)
  }

  /** SKEW-HARDENED [[closedSessions]] (r14 verdict #5): identical
    * output, but each micro-batch PRE-MERGES its events into gap-closed
    * intervals per input partition BEFORE the keyed shuffle — the
    * [[graft.operators.SkewJoin]] idea (reshape the hot key's load
    * before the exchange) applied to keyed state. Under heavy key skew
    * (one user = 50% of events) the hot key's shuffled rows and the
    * stateful task's working set collapse from O(events) to O(distinct
    * sessions), which is the irreducible output size. The per-partition
    * pre-merge is partition-bounded (the same memory model as any
    * partition-local sort); it never crosses partitions, so it can only
    * under-merge — the downstream interval machine computes the same
    * gap closure either way, and the spec pins output equality on a
    * skewed fixture. Emission timing, state contract and watermark
    * semantics are [[closedSessions]]'s (the watermark derives from
    * interval ends, whose max equals the raw max event time). */
  def closedSessionsPreMerged(df: DataFrame, keyCol: String, tsCol: String,
                              gap: String, watermark: String,
                              preMergedRows: Option[org.apache.spark.util.LongAccumulator] = None)
    : Dataset[(String, Long, java.sql.Timestamp, java.sql.Timestamp)] = {
    import df.sparkSession.implicits._
    val gapMicros = parseGapMicros(gap)
    val pts = df.select(col(keyCol).cast("string").as("k"), col(tsCol).as("ts"))
      .as[(String, java.sql.Timestamp)]
    val iv = pts.mapPartitions { it =>
      // partition-bounded materialization (the normal Spark local-sort
      // memory model — bounded by micro-batch partition sizing, NEVER
      // by key): group this partition's events per key, sort each
      // key's run once, fold gap-adjacent points into intervals
      val byKey = scala.collection.mutable.HashMap
        .empty[String, ArrayBuffer[Long]]
      it.foreach { case (k, t) => byKey.getOrElseUpdate(k, ArrayBuffer.empty) += tsMicros(t) }
      byKey.iterator.flatMap { case (k, ts) =>
        val sorted = ts.sortInPlace()
        val out = ArrayBuffer.empty[SessionAcc]
        sorted.foreach { t =>
          if (out.nonEmpty && t - out.last.end < gapMicros) {
            val c = out.last
            out(out.size - 1) = SessionAcc(c.start, math.max(c.end, t), c.n + 1)
          } else out += SessionAcc(t, t, 1)
        }
        preMergedRows.foreach(_.add(out.size))
        out.iterator.map(s => (k, microsTs(s.start), microsTs(s.end), s.n))
      }
    }
    mergeIntervalSessions(
      iv.toDF("k", "s", "e", "n").withWatermark("e", watermark), gapMicros)
  }

  /** The interval machine's one mutation: merge `x` into an ordered
    * map of DISJOINT, pairwise gap-separated intervals keyed by start,
    * preserving that invariant. The back-neighbor (floor) check never
    * cascades backward — merging can only extend an interval's END —
    * and the forward cascade absorbs every successor within the gap.
    * Because the gap closure of a set of intervals is unique, the
    * result is INSERTION-ORDER-INDEPENDENT (SessionsPropertySpec pins
    * this against a sort-and-fold reference over random orders). */
  private[graft] def insertInterval(tree: java.util.TreeMap[Long, SessionAcc],
                                    x0: SessionAcc, gapMicros: Long): Unit = {
    var x = x0
    val p = tree.floorEntry(x.start)
    if (p != null && x.start - p.getValue.end < gapMicros) {
      val m = p.getValue
      tree.remove(m.start)
      x = SessionAcc(m.start, math.max(m.end, x.end), m.n + x.n)
    }
    var f = tree.ceilingEntry(x.start)
    while (f != null && f.getValue.start - x.end < gapMicros) {
      val m = f.getValue
      tree.remove(m.start)
      x = SessionAcc(x.start, math.max(x.end, m.end), x.n + m.n)
      f = tree.ceilingEntry(x.start)
    }
    tree.put(x.start, x)
  }

  /** `gap` → microseconds, rejecting month-bearing intervals (no fixed
    * length — the days+micros conversion would silently treat "1 month"
    * as 0, making every event its own session; reject like Spark's
    * window() does). */
  private def parseGapMicros(gap: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(iv.months == 0,
      s"closedSessions gap must not use month/year units (got '$gap')")
    val gapMicros = iv.days * 86400000000L + iv.microseconds
    require(gapMicros > 0, s"closedSessions gap must be positive (got '$gap')")
    gapMicros
  }

  /** The shared stateful stage of [[closedSessions]] /
    * [[closedSessionsPreMerged]]: incoming (k, s, e, n) intervals merge
    * into the carried open-session intervals under gap-strict adjacency
    * (`next.start - cur.end < gap` — an event at exactly end+gap opens
    * a NEW session, the native `session_window` [t, t+gap) boundary).
    *
    * Interval-merge, not an append-only scan: a late in-horizon item
    * can arrive with start < the oldest open start. The working set is
    * an ordered map keyed by interval start — each incoming interval
    * binary-searches its back-neighbor and cascade-merges forward, so a
    * batch folds in O(rows · log sessions) with memory O(sessions),
    * never O(events): merging can only extend an interval's END, and
    * the map invariant (disjoint, pairwise gap-separated) means the
    * back-neighbor check never cascades backward. The gap closure is
    * unique, so insertion order cannot change the result (the
    * batch == stream argument in miniature).
    *
    * Closure is a WATERMARK property, not an in-batch one: a session is
    * emitted only once `end + gap <= watermark` — until then a
    * late-but-in-horizon event may still extend or merge it; the
    * event-time timeout fires when the oldest open session's close
    * becomes provable (the streaming generalization of the reference's
    * fold/trigger state machine, `context.go:332-455`). */
  private def mergeIntervalSessions(iv: DataFrame, gapMicros: Long)
    : Dataset[(String, Long, java.sql.Timestamp, java.sql.Timestamp)] = {
    import iv.sparkSession.implicits._
    iv.as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionsAcc,
        (String, Long, java.sql.Timestamp, java.sql.Timestamp)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          val tree = new java.util.TreeMap[Long, SessionAcc]()
          state.getOption.map(_.sessions).getOrElse(Nil)
            .foreach(s => tree.put(s.start, s))
          rows.foreach(r =>
            insertInterval(tree, SessionAcc(tsMicros(r._2), tsMicros(r._3), r._4), gapMicros))
          // the engine's watermark is millisecond-grained: closure and
          // the timeout are compared in microseconds against wm*1000
          // (closure can only become provable LATER than with a µs
          // watermark — conservative, never early)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          import scala.jdk.CollectionConverters._
          // provably closed: no event the watermark still admits
          // (ts >= wm) can merge into a session with end+gap <= wm
          val (closed, open) = tree.values().asScala.toList
            .partition(_.end + gapMicros <= wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionsAcc(open))
            // fires once the OLDEST open session's closure is provable
            // (ceil to ms so the timeout never lands BEFORE the close
            // is provable); open sessions satisfy end+gap > wm: legal
            val t = open.map(_.end + gapMicros).min
            state.setTimeoutTimestamp(Math.floorDiv(t, 1000L) +
              (if (Math.floorMod(t, 1000L) > 0) 1L else 0L))
          }
          closed.iterator.map(s =>
            (key, s.n, microsTs(s.start), microsTs(s.end)))
      }
  }

  /** Run an unbounded flow to completion of available data
    * (≙ `.Limit` semantics: "makes any pipeline bounded",
    * `def.go:88-91`): AvailableNow processes everything queued then
    * stops — the streaming twin of a bounded run. */
  def runAvailableNow(df: DataFrame, outputMode: OutputMode = OutputMode.Append())
                     (onBatch: DataFrame => Unit): Unit = {
    val q = start(df)(_
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], _: Long) => { onBatch(batch.toDF()); () }))
    q.awaitTermination()
  }

  /** goconnect `TriggerEach(n)` sink-flush semantics on a stream
    * (`README.md:32,97`): flush downstream every n elements, regardless
    * of micro-batch boundaries. Implemented as foreachBatch bookkeeping:
    * rows accumulate in a pending buffer flushed in n-sized chunks
    * (SURVEY §7.3 "TriggerEach — foreachBatch bookkeeping").
    *
    * SCOPE: this is the DRIVER-SIDE path — it collects each micro-batch,
    * so it preserves the reference's exact global every-n cadence (a
    * global element count is a total order, inherently serial) and is
    * right only for console/driver sinks on small streams, the same
    * place the reference uses it. High-volume distributed sinks use
    * [[PartitionChunkedFlush]], which flushes executor-side. Prefer
    * [[runCountFlushAvailableNow]] over driving this class by hand — it
    * wires the end-of-stream `close()` to query termination. */
  final class CountTriggeredFlush(n: Int, flush: Seq[org.apache.spark.sql.Row] => Unit)
    extends Serializable {
    private val pending = ArrayBuffer.empty[org.apache.spark.sql.Row]
    def onBatch(batch: DataFrame): Unit = {
      pending ++= batch.collect()
      while (pending.size >= n) {
        flush(pending.take(n).toSeq)
        pending.remove(0, n)
      }
    }
    /** End-of-stream flush (bounded-input contract: remaining rows flush
      * once at termination, ref `context.go:305-310`). */
    def close(): Unit = { if (pending.nonEmpty) flush(pending.toSeq); pending.clear() }
  }

  /** TriggerEach for DISTRIBUTED sinks — the scale path: rows flush in
    * n-sized chunks executor-side (foreachPartition), one flush channel
    * per task, no driver collect. The cadence is per-PARTITION rather
    * than global — the honest distributed relaxation of the reference's
    * serial every-n contract (same relaxation as `.Par` order,
    * SURVEY §3.4) — and each partition's remainder (< n rows) flushes at
    * partition end instead of carrying across micro-batches, so a chunk
    * never spans a failure domain: replay of a failed task re-flushes
    * only that task's chunks (at-least-once, like the reference's
    * redelivery). `flush` runs on executors: it must be serializable and
    * use partition-local connections (open-per-task, as a queue
    * publisher would). */
  final class PartitionChunkedFlush(n: Int, flush: Seq[org.apache.spark.sql.Row] => Unit)
    extends Serializable {
    def onBatch(batch: DataFrame): Unit = {
      val (f, size) = (flush, n)
      batch.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.grouped(size).foreach(chunk => f(chunk.toSeq))
      }
    }
  }

  /** Run a stream to completion of available data with TriggerEach(n)
    * flush semantics, the end-of-stream flush wired to termination —
    * callers cannot forget `close()` (ref bounded-flush contract,
    * `context.go:305-310`). */
  def runCountFlushAvailableNow(df: DataFrame, n: Int,
                                flush: Seq[org.apache.spark.sql.Row] => Unit,
                                outputMode: OutputMode = OutputMode.Append()): Unit = {
    val t = new CountTriggeredFlush(n, flush)
    runAvailableNow(df, outputMode)(t.onBatch)
    t.close()
  }

  /** Watermarked stream-stream interval join — the streaming twin of
    * the batch as-of join (ref capability via
    * [[graft.operators.AsOfJoin]]): each left event pairs with right
    * events of the same key whose time lies in `[left.ts − lookback,
    * left.ts]`.
    *
    * Scale: both sides shuffle once on the join key; the state store
    * buffers only rows inside the watermark+lookback horizon per key —
    * the interval condition is what lets Spark EVICT: an unbounded
    * equality-only stream join would keep state forever. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keyCol: String, lookback: String,
                   leftTs: String = "ts", rightTs: String = "ts",
                   watermark: String = "0 seconds"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
      .select(col(keyCol).as("l_key"), col(leftTs).as("l_ts"),
        struct(left.columns.map(col): _*).as("l"))
    val r = right.withWatermark(rightTs, watermark)
      .select(col(keyCol).as("r_key"), col(rightTs).as("r_ts"),
        struct(right.columns.map(col): _*).as("r"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("l_ts"))
  }

  /** Streaming exact dedup — the streaming twin of
    * [[graft.operators.Dedup.exact]] for continuous ingest: documents
    * whose normalized-content fingerprint was already seen within the
    * watermark horizon are dropped.
    *
    * Scale: state is one fingerprint key per distinct doc, partitioned
    * across executors by the state store, and the watermark EVICTS
    * expired keys — bounded state on an unbounded stream (the batch
    * operator's groupBy has no such bound). Exactly Spark's
    * dropDuplicatesWithinWatermark contract: duplicates arriving within
    * the horizon are guaranteed dropped; later ones may reappear — the
    * right trade for ingest dedup, where a final batch compaction (the
    * `d_exact` gate) remains the global pass. */
  def dedupExact(df: DataFrame, tsCol: String, watermark: String,
                 textCol: String = "text"): DataFrame = {
    // fresh scratch name: a fixed "__fp" would silently overwrite (and
    // then drop) a caller's column of that name
    val fp = Iterator.from(0).map(i => if (i == 0) "__fp" else s"__fp$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(fp, graft.functions.Text.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  /** `TriggerEvery(d)` ≙ `Trigger.ProcessingTime(d)` on any streaming
    * write (ref `def.go:84-87`). */
  def triggerEvery(df: DataFrame, interval: String, outputMode: OutputMode)
                  (onBatch: DataFrame => Unit): StreamingQuery =
    start(df)(_
      .outputMode(outputMode)
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], _: Long) => { onBatch(batch.toDF()); () }))

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Every streaming `start()` of the program goes through here: the
    * writer `configure` builds on `ds.writeStream` starts under a
    * session whose checkpoint files are managed by
    * [[LocalCheckpointFileManager]] unless the session (or its Hadoop
    * conf) already names a manager. The stream clones the session at
    * `start()`, so the setting must be in place before it. */
  def start[T](ds: Dataset[T])(configure: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val spark = ds.sparkSession
    if (spark.conf.getOption(CheckpointManagerKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(CheckpointManagerKey) == null)
      spark.conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)
    configure(ds.writeStream).start()
  }
}
