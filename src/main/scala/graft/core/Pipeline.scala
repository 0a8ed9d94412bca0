package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The pipeline builder — goconnect's capability shape
  * (`Pipeline.Root(...).Map(...).Filter(...).Fold(...).Apply(sink)`,
  * ref `pipeline.go:60-136`) re-expressed as a thin veneer over a
  * DataFrame plan, so every combinator is declarative and Catalyst
  * optimizes the whole chain (SURVEY §7.1).
  *
  * Frame convention: `value` (the element payload), `uniq` (≙ Stamp.Uniq),
  * `ts` (≙ Stamp.Unix event time).
  */
object Pipeline {
  def apply(spark: SparkSession): Pipeline =
    Pipeline(spark, graft.coders.Coders.registry)

  final case class Pipeline(spark: SparkSession, registry: CoderRegistry) {
    def withCoders(extra: Coder*): Pipeline = copy(registry = registry ++ extra)
    /** ≙ `pipeline.Root(source)` (`pipeline.go:60-62`). */
    def root(source: Source): Flow =
      Flow(spark, source.read(spark), registry, source.isBounded, Some(source))
  }
}

/** One pipeline stage chain (≙ the `*Def` linked list, `def.go:27-39`;
  * here: a LogicalPlan under construction).
  *
  * `root`/`xform` record where the plan came from and how to rebuild it:
  * combinators compose `xform` alongside `df`, so source-level knobs
  * that must be set at read time (throttling ≙ admission control) can
  * re-read the root with new options and replay the declarative chain —
  * the Spark-idiomatic place for rate limits is the SOURCE, not a
  * mid-plan operator.
  */
final case class Flow(spark: SparkSession, df: DataFrame,
                      registry: CoderRegistry, bounded: Boolean,
                      root: Option[Source] = None,
                      xform: DataFrame => DataFrame = identity) {

  /** Advance the chain: apply `f` now AND remember it for rebuilds. */
  private def next(f: DataFrame => DataFrame): Flow =
    copy(df = f(df), xform = xform andThen f)

  def valueType: DataType = df.schema("value").dataType

  private def withValue(d: DataFrame, v: Column): DataFrame =
    d.select((v.as("value") +:
      d.columns.filter(c => c == "uniq" || c == "ts").map(col).toSeq): _*)

  /** 1→1 map (ref `UserMapFn`, `fn.go:97-127`). The out type is declared,
    * mirroring the reference's reflection-derived stage type. */
  def map(out: DataType)(f: Column => Column): Flow =
    next(d => withValue(d, f(col("value")).cast(out)))

  /** Map into a struct/typed column without a cast. */
  def mapRaw(f: Column => Column): Flow = next(d => withValue(d, f(col("value"))))

  /** Filter (ref `UserFilterFn`, `fn.go:129-152`). */
  def filter(pred: Column => Column): Flow = next(_.filter(pred(col("value"))))

  /** 1→N flatMap (ref `UserFlatMapFn`, `fn.go:195-236`): `f` returns an
    * array column; elements explode in order. The new `uniq` is the
    * STRUCT (parent uniq, position) — structs sort lexicographically, so
    * every order-sensitive downstream op keeps the reference's
    * order-preserving fan-out (`processor.go:203-270`) without any
    * arithmetic encoding that could overflow 64-bit ids (stamped ids put
    * the partition id in the high bits). Nested flatMaps nest structs;
    * the total order still holds. */
  def flatMap(f: Column => Column): Flow = next { d =>
    // ts is carried through the explode: fan-out children inherit the
    // PARENT element's event time (ref processor.go:203-270 — stamps
    // propagate), so event-time windowing downstream of a flatMap keeps
    // working; Source.stamp only re-stamps when ts is absent.
    Source.stamp(d
      .select(posexplode(f(col("value"))).as(Seq("pos", "value")),
        col("uniq"), col("ts"))
      .select(col("value"),
        struct(col("uniq").as("major"), col("pos").as("minor")).as("uniq"),
        col("ts")))
  }

  /** String split flatMap (ref `str.Split`, `coder/str/splitter.go:28-50`). */
  def split(sep: String): Flow = flatMap(v => split_string(v, sep))
  private def split_string(v: Column, sep: String): Column =
    org.apache.spark.sql.functions.split(v, java.util.regex.Pattern.quote(sep))

  /** Apply one coder explicitly (≙ a registered coder stage). Type
    * check is nullability-loose ([[Coder.loose]]) for the same reason
    * the chain search is. */
  def via(coder: Coder): Flow = {
    require(Coder.loose(coder.inType) == Coder.loose(valueType),
      s"coder ${coder.name} expects ${coder.inType}, flow has $valueType")
    next(d => withValue(d, coder(col("value")).cast(coder.outType)))
  }

  private def loose(dt: DataType): DataType = Coder.loose(dt)

  /** Coder auto-injection (ref `injectCoder`, `pipeline.go:168-197`):
    * greedy ≤5-deep chain search from the current value type to `to`. */
  def adapt(to: DataType): Flow =
    if (loose(valueType) == loose(to)) this
    else {
      // resolve the chain against the CURRENT value type, outside the
      // replayable closure (the rebuilt frame has the same schema)
      val conv = registry.convert(col("value"), valueType, to).cast(to)
      next(d => withValue(d, conv))
    }

  /** Global running fold (ref `UserFoldFn` + trigger, `fn.go:154-193`,
    * `context.go:332-455`): emits the running accumulator every
    * `triggerEach` inputs and once at end-of-input (the bounded-sink
    * flush, `context.go:305-310`).
    *
    * Spark-first: for associative `merge` this is a cumulative window
    * aggregate over `uniq` order. The unbounded-window sort is the price
    * of the reference's *sequential* emission semantic — it is inherently
    * a total order; for pure final-value folds use [[foldFinal]] which is
    * a fully parallel partial aggregate. */
  def foldTriggered(triggerEach: Long)(acc: Column => Column): Flow = next { d =>
    // Two-phase distributed prefix aggregation (NOT a single-partition
    // global window): range-partition by uniq (parallel sort), compute
    // per-partition running values, then shift each partition by the
    // total of its predecessors (a P-row driver-side prefix — P is the
    // partition count, never the data size). Requires an associative,
    // "+"-combinable accumulator (sum/count — the reference's folds).
    // localCheckpoint (eager), not persist: (a) three consumers (running
    // window, partition stats, total count) would otherwise recompute
    // the upstream lineage, (b) every consumer must see the SAME
    // spark_partition_id() assignment — independent range exchanges
    // sample boundaries independently, so an un-shared __pid is a
    // correctness hazard — and (c) checkpoint blocks are reclaimed by
    // the ContextCleaner when the result is dropped, where a persist
    // here would pin a CacheManager entry for the session's lifetime.
    val parts = d.repartitionByRange(col("uniq"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val w = Window.partitionBy("__pid").orderBy("uniq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts
      .withColumn("__acc", acc(col("value")).over(w))
      .withColumn("__rn", count(lit(1)).over(w))
    val accType = local.schema("__acc").dataType
    // per-partition totals → exclusive prefix offsets, computed in the
    // accumulator's own type (a window over P rows — P = partition
    // count, never data size — so the single-partition sort is trivial)
    val stats = parts.groupBy("__pid")
      .agg(count(lit(1)).as("__cnt"), acc(col("value")).as("__tot"))
    val wOff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val offDf = stats.select(col("__pid"),
      coalesce(sum("__cnt").over(wOff), lit(0L)).as("__rowOff"),
      coalesce(sum("__tot").over(wOff), lit(0).cast(accType)).cast(accType).as("__accOff"))
    val total = parts.count()
    val emitted = local.join(broadcast(offDf), "__pid")
      .withColumn("__n", col("__rn") + col("__rowOff"))
      .filter(col("__n") % triggerEach === 0 || col("__n") === total)
      .select((col("__acc") + col("__accOff")).cast(accType).as("value"),
        col("__n").as("uniq"))
    Source.stamp(emitted)
  }

  /** Final-value-only fold — the scalable path: partial agg per partition
    * + 1-row merge (what goconnect's fold becomes when only the last
    * emission is observed). */
  def foldFinal(agg: Column => Column): Flow =
    next(d => Source.stamp(d.agg(agg(col("value")).as("value"))))

  /** ≙ `.Count()` (`def.go:61-65`). */
  def countAll(): Flow = foldFinal(_ => count(lit(1)))

  /** ≙ `.Limit(n)` (`def.go:88-91`) — "makes any pipeline bounded".
    * Deterministic: takes the first n in stamp order.
    *
    * Bounded flows: pure plan surgery — TakeOrderedAndProject keeps n
    * rows per partition then merges. UNBOUNDED flows: a streaming frame
    * cannot execute orderBy/limit (and the batch sink path it is about
    * to be routed to would throw), so the stream is DRAINED here —
    * AvailableNow micro-batches accumulate until n elements have
    * arrived or the source's available data is exhausted, the query
    * stops, and the chain continues on the drained bounded frame. This
    * materializes up to the drained prefix driver-side: correct for
    * the reference's test/bounding semantics, not a 100 TB path (a
    * production stream bounds itself with watermarks + streaming
    * sinks, not `.Limit`). */
  def limit(n: Int): Flow =
    if (bounded) next(_.orderBy("uniq").limit(n)).copy(bounded = true)
    else {
      import org.apache.spark.sql.streaming.Trigger
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val schema = df.schema
      val q = graft.streaming.Streams.start(df)(_
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.collect(); buf.synchronized { buf ++= rows }; ()
        })
      // stop as soon as n elements are in hand; otherwise run until the
      // available data is drained (fewer than n rows behaves like a
      // batch limit on a short table)
      while (q.isActive && buf.synchronized(buf.size) < n)
        Thread.sleep(25)
      if (q.isActive) q.stop()
      q.awaitTermination()
      val drained = buf.synchronized(buf.toSeq)
      val bdf = spark.createDataFrame(
        spark.sparkContext.parallelize(drained), schema)
      copy(df = bdf.orderBy("uniq").limit(n), bounded = true,
        root = None, xform = identity)
    }

  /** ≙ `.Par(n)` (`def.go:69-72`): vertical parallelism. Spark-first this
    * is RoundRobinPartitioning; goconnect's order guarantee is restored
    * downstream by sorting on `uniq` where a consumer requires it
    * (SURVEY §3.4 documented divergence). */
  def par(n: Int): Flow = next(_.repartition(n))

  /** ≙ NetRoundRobin (`network/net_roundrobin.go:27-55`). */
  def scatter(n: Int): Flow = par(n)

  /** ≙ the reference's ORDER-PRESERVING `.Par(n)` (`processor.go:64-280`:
    * workers run in parallel, the reorder cache `processor.go:203-270`
    * re-emits in input order) — the guarantee plain [[par]]
    * deliberately drops (SURVEY §3.4's documented divergence; a
    * migrating user who relied on it opts back in here). Spark-first,
    * order is a PLAN property, not a runtime cache: range-repartition
    * on the stamp + sort within partitions. Downstream NARROW stages
    * (map/filter/flatMap) preserve intra-partition order and the range
    * partitioning keeps partitions globally ordered, so a terminal
    * consumer sees input order end to end; a later wide op (fold keys,
    * [[par]]) drops order again — exactly the reference's semantics
    * when a non-preserving stage follows.
    *
    * Scale: `repartitionByRange` samples the stamp for balanced
    * ranges — n-way parallel and skew-resistant, where the reference
    * serializes every element through one reorder-cache goroutine per
    * stage (`processor.go:203-270`), a single-node throughput ceiling
    * the plan form simply doesn't have. */
  def parOrdered(n: Int): Flow =
    next(_.repartitionByRange(n, col("uniq")).sortWithinPartitions("uniq"))

  /** ≙ NetMergeOrdered (`network/net_mergeordered.go:27-61`): restore
    * global stamp order. Spark-first: a range-partitioned global sort —
    * strictly more scalable than the reference's gather-to-one-node. */
  def mergeOrdered(): Flow = next(_.orderBy("uniq"))

  /** ≙ `.Buffer(n)` (`def.go:74-77`) — backpressure capacity. Spark's
    * micro-batch admission control subsumes it; retained as an explicit
    * no-op so reference pipelines translate 1:1. */
  def buffer(n: Int): Flow = this

  /** ≙ `.Throttle(count, period)` (`def.go:93-96`, rate limiter
    * `util/throttler.go:7-17`). Spark-first, rate limiting is SOURCE
    * admission control, not a mid-plan operator: for an unbounded flow
    * whose root is [[Throttleable]], re-read the root with its admission
    * knob set to `count` (rate-source rows/sec, or the connector's
    * per-trigger record cap ≙ Kafka's maxOffsetsPerTrigger) and replay
    * the declarative chain — downstream stages are unchanged. Bounded
    * flows: no-op (a batch plan has no arrival rate to limit). */
  def throttle(count: Int): Flow =
    if (bounded) this
    else root match {
      case Some(t: Throttleable) =>
        val src = t.throttled(count)
        copy(df = xform(src.read(spark)), root = Some(src))
      case _ => this // root has no admission knob — documented no-op
    }

  /** Terminal: apply a sink (≙ `.Apply(sink)`, `pipeline.go:96-110`),
    * auto-injecting coders to the sink's declared input type
    * (AnyType sink ⇒ no adaptation, ref `types.go:27`). */
  def to(sink: Sink): Sink.Result = {
    val adapted = sink.inType.map(adapt).getOrElse(this)
    sink.write(adapted)
  }
}
