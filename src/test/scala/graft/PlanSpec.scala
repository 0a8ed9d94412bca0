package graft

import org.apache.spark.sql.functions.col

/** Plan-quality gate: the corpus must produce the plans a 100 TB run
  * needs — filters and projections pushed into the parquet scan,
  * dimension joins broadcast, top-k as TakeOrdered, and no accidental
  * cartesian products anywhere.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** The AQE-final executed plan of `df`, after running it. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("q2_filter_project: a small global sort runs over a coalesce to one partition, no exchange") {
    import org.apache.spark.sql.execution.{CoalesceExec, SortExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val p = finalPlan(SparkEntry.queries("q2_filter_project")(spark, dir))
    assert(Aqe.collect(p) { case e: Exchange => e }.isEmpty, p.toString)
    val sorts = Aqe.collect(p) { case s: SortExec => s }
    assert(sorts.size == 1 && sorts.head.global, p.toString)
    assert(Aqe.collect(sorts.head) { case c: CoalesceExec if c.numPartitions == 1 => c }.size == 1,
      p.toString)
  }

  test("a sort whose input estimate is above the broadcast threshold keeps its range exchange") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1024")
      val df = SparkEntry.queries("q2_filter_project")(spark, dir)
      val sort = df.queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
      }.get
      assert(sort.child.stats.sizeInBytes > 1024)
      val p = finalPlan(df).toString
      assert(p.contains("rangepartitioning") && !p.contains("Coalesce 1"), p)
    } finally spark.conf.set(key, prev)
  }

  test("orderBy(...).limit(n) keeps TakeOrderedAndProject, with or without a projection between") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val q2 = SparkEntry.queries("q2_filter_project")(spark, dir)
    Seq(q2.limit(10), q2.select(col("revenue")).limit(10)).foreach { df =>
      val p = finalPlan(df)
      assert(Aqe.collect(p) { case t: TakeOrderedAndProjectExec => t }.size == 1, p.toString)
      assert(!p.toString.contains("Coalesce 1"), p.toString)
    }
  }

  test("a streaming plan is left as it is by the small-sort rule") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Int]
    val counts = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("value").count().orderBy(col("value").desc)
    val streaming = counts(mem.toDF()).queryExecution.analyzed
    assert(streaming.isStreaming && (core.SmallSort(streaming) eq streaming))
    // the batch twin of the same plan is rewritten
    val batch = counts(spark.range(5).toDF("value")).queryExecution.analyzed
    assert(core.SmallSort(batch).collect { case r: Repartition => r }.size == 1)
    // and a running query's micro-batch plans carry no repartition
    mem.addData(3, 1, 3, 2)
    val q = counts(mem.toDF()).writeStream.format("memory").queryName("small_sort_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val last = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(last.optimizedPlan.collect { case r: Repartition => r }.isEmpty, last.optimizedPlan)
      assert(spark.table("small_sort_stream").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
        Seq(3 -> 2L, 2 -> 1L, 1 -> 1L))
    } finally q.stop()
  }

  test("q2 filter and projection reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"))
    // pruned read schema: only the 6 needed columns, not all 11
    assert(!p.contains("l_returnflag"))
  }

  test("q3/q4 dimension joins are broadcast, not shuffle") {
    assert(plan("q3_join_broadcast").contains("BroadcastHashJoin"))
    val p4 = plan("q4_join_chain")
    assert(p4.contains("BroadcastHashJoin"))
  }

  test("q5 top-k compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan("q5_topk").contains("TakeOrderedAndProject"))
  }

  test("q1 aggregation is partial+final (map-side combine)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("no accidental CartesianProduct in the whole corpus") {
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("round-2 queries keep their scale-critical plan shapes") {
    // q23: the percentile aggregate (per-partition value→count map
    // state) must stay gone — quantiles are sort+rank based
    assert(!plan("q23_stats").toLowerCase.contains("percentile"))
    // capped ngram: the hot-shingle document-frequency cap applies as a
    // broadcast anti-join (tiny hot list ships to executors; the big
    // shingle stream is never shuffled for the cap). Asserted on the
    // materialize=false twin of the gate query — the gate form truncates
    // lineage at the shared-shingle checkpoint, which would hide the
    // anti-join from the inspectable plan (round-4 regression).
    val ng = queries.LlmOps.dNgramJaccardImpl(spark, dir, materialize = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ng.contains("BroadcastHashJoin") && ng.contains("LeftAnti"), ng.take(500))
    // trained IVF: the (small) query side broadcasts against the celled
    // corpus — an equi-join on cell, never a cross join
    assert(plan("s_ann_ivf_trained").contains("BroadcastHashJoin"))
    // schema-less XML: the StAX parse runs ONCE per row — a single
    // parseJson invocation feeding every variant_get, not one parse
    // per extracted field (CollapseProject must not inline it)
    val xp = SparkEntry.queries("c_xml_tree")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("parseJson".r.findAllIn(xp).size == 1, s"parse count != 1 in:\n${xp.take(800)}")
  }

  test("newest gates keep their scale shapes: vocab top-k, quantize pruning, sample pushdown") {
    // t_vocab: the top-50 is TakeOrdered (k per partition + merge),
    // never a global sort of the token frequencies
    assert(plan("t_vocab").contains("TakeOrderedAndProject"))
    // s_quantize: the embeddings scan reads only the two needed columns
    val qz = plan("s_quantize")
    assert(qz.contains("ReadSchema") && !qz.contains("label"),
      "quantize scan must prune the label column")
    // t_sample: the hash-bucket filter reaches the scan as a pushed/
    // early filter — the sampled read never materializes unsampled rows
    // beyond the scan-filter stage (no join, no shuffle in the plan)
    val sm = plan("t_sample")
    assert(!sm.contains("Exchange") || sm.contains("rangepartitioning"),
      s"sampling must not shuffle (except the final presentation sort):\n${sm.take(400)}")
  }

  test("t_pack: no unpartitioned data-scale window, one shared materialization") {
    val p = SparkEntry.queries("t_pack")(spark, dir)
      .queryExecution.executedPlan.toString
    // the data-scale cumsum window must be partitioned by the internal
    // range-partition id — a windowspecdefinition whose FIRST element is
    // the data order column would be the single-task global window this
    // operator exists to avoid
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"global data-scale window in t_pack:\n${p.take(600)}")
    assert(p.contains("windowspecdefinition(__pid"),
      "expected the partition-local cumsum window keyed by __pid")
    // exactly one materialization, read by both phase-2 branches: the
    // checkpointed range-partitioned input appears as two scans of the
    // same RDD (local-cumsum branch + per-partition-totals branch)
    assert("Scan ExistingRDD".r.findAllIn(p).size == 2,
      s"expected the one checkpoint read twice:\n${p.take(600)}")
  }

  test("round-5 gates keep their scale shapes: bloom probe, print-join cap") {
    // d_incremental: the bloom prefilter survives to the physical plan
    // as a native might_contain filter over the batch scan (the
    // map-side novel fast path — no UDF, no join for definite-novels)
    val p = plan("d_incremental")
    assert(p.toLowerCase.contains("might_contain"),
      s"bloom probe missing from d_incremental plan:\n${p.take(800)}")
    // d_passages: the hot-print df cap is a broadcast anti-join on the
    // materialize=false twin (the gate form truncates lineage at the
    // shared-print checkpoint, same as ngramJaccard)
    val ps = operators.Dedup.sharedPassages(
        core.Tables(spark, dir).documents, minPrints = 5, k = 24, window = 8,
        maxDocFreq = Some(20L), materialize = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ps.contains("BroadcastHashJoin") && ps.contains("LeftAnti"), ps.take(500))
  }

  test("round-7 gates keep their scale shapes: keyed cap window, map-side strata, broadcast LM totals") {
    // t_cap_domain: the per-key rank is a KEYED window (partitioned by
    // source) — a windowspecdefinition starting at the hash column
    // would be the single-task global sort this operator avoids
    val cap = SparkEntry.queries("t_cap_domain")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(cap.contains("windowspecdefinition(source"),
      s"expected the cap window keyed by source:\n${cap.take(600)}")
    // t_stratified: fractions are plan literals (CASE projection) — no
    // join, no aggregation, and no exchange beyond the presentation sort
    val st = plan("t_stratified")
    assert(!st.contains("Join") && !st.contains("HashAggregate"),
      s"stratified sampling must be a pure filter:\n${st.take(400)}")
    assert(!st.contains("Exchange") || st.contains("rangepartitioning"),
      s"stratified sampling must not shuffle (except the final sort):\n${st.take(400)}")
    // t_dsir: the 1-row totals ride along as a broadcast, never a
    // driver action or a shuffled join
    assert(plan("t_dsir").contains("BroadcastNestedLoopJoin"),
      "DSIR totals must attach via broadcast cross join")
  }

  test("d_line_dedup: unique-key join back (no hot-line skew), t_quality_lr: pure scan, no shuffle") {
    // the join back to first-occurrences is keyed on (line, id, pos) —
    // unique on both sides, so a hot boilerplate line cannot skew one
    // partition. Joining on `line` alone would show a 1-column key.
    // (the STRATEGY is free to adapt — at sf0.001 the firsts side is
    // tiny and broadcasts; at scale the same 3-column equi-key shuffles
    // without skew because it is unique on both sides)
    val ld = SparkEntry.queries("d_line_dedup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Join \\[line#\\d+, doc_id#\\d+L?, pos#\\d+\\]".r.findFirstIn(ld).isDefined,
      s"join back must key on (line, doc_id, pos), not line alone:\n${ld.take(800)}")
    // classifier scoring is one codegen'd scan: no join, no agg shuffle
    val lr = plan("t_quality_lr")
    assert(!lr.contains("Join") && !lr.contains("HashAggregate"),
      s"classifier scoring must be a pure projection:\n${lr.take(400)}")
    assert(!lr.contains("Exchange") || lr.contains("rangepartitioning"),
      s"classifier scoring must not shuffle (except the final sort):\n${lr.take(400)}")
  }

  test("t_ppl_buckets: the LM subtree's exchanges are reused across the cutoff and assignment branches") {
    // perplexityBuckets feeds the SAME unigram-LM pipeline into the
    // sample/cutoff branch and the final assignment branch; a hard
    // Stage.reuse boundary is off-limits (the LM's explicit broadcast
    // total would materialize at construction inside a checkpoint
    // subtree), so the dedupe relies on ReuseExchange collapsing the
    // identical shuffle subtrees — assert it actually fires.
    val df = SparkEntry.queries("t_ppl_buckets")(spark, dir)
    df.collect()  // AQE reuses stages at RUNTIME; inspect the final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"expected the LM exchanges to be reused across branches:\n${p.take(3000)}")
  }

  test("ivfPqTopK: ADC scoring is an equi-join on the probed cell — the cell probe prunes the code scan") {
    val e = core.Tables(spark, dir).embeddings
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val cents = operators.Similarity.trainKMeans(e, k = 4, iters = 1, trainBound = 128)
    val cbs = operators.Similarity.pqTrain(e, m = 4, ksub = 8, iters = 1, trainBound = 128)
    // shortlist=0 isolates the ADC stage; the refine stage's broadcast
    // shape is asserted separately below
    val p = operators.Similarity.ivfPqTopK(q, e, k = 3, nprobe = 2, cents, cbs)
      .queryExecution.executedPlan.toString
    // candidate generation must be the cell equi-join — pqTopK's
    // all-codes nested loop here would mean IVF pruned nothing
    assert("BroadcastHashJoin \\[cell#".r.findFirstIn(p).isDefined,
      s"ADC join must hash-join on the probed cell:\n${p.take(800)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no all-codes nested loop on the composed path:\n${p.take(800)}")
    // with refine: the exact re-rank joins the driver-tiny shortlist to
    // the float corpus as a BROADCAST hash join — a sort-merge join
    // here would shuffle the whole float corpus and undo the
    // compressed-domain win (round-7 ADVICE finding, now pinned)
    val pr = operators.Similarity.ivfPqTopK(q, e, k = 3, nprobe = 2, cents, cbs,
        shortlist = 20)
      .queryExecution.executedPlan.toString
    assert(!pr.contains("SortMergeJoin"),
      s"refine must broadcast the shortlist, not shuffle the corpus:\n${pr.take(800)}")
  }

  test("rebalance: rates broadcast back, corpus itself never shuffled") {
    val p = plan("t_rebalance")
    assert(p.contains("BroadcastHashJoin"),
      s"rate map must broadcast:\n${p.take(400)}")
    // the only non-broadcast exchanges allowed: the tiny count-by-source
    // agg and the presentation sort — never a hash repartition of the
    // full documents relation on the probe side
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the join")
  }

  test("decontam broadcasts the test side; chunker plans no data shuffle") {
    // d_decontam: the benchmark shingle set must BROADCAST (the 100 TB
    // corpus is scanned once, never shuffled for the semi-join)
    assert(plan("d_decontam").contains("BroadcastHashJoin"))
    // t_chunks: projection + explode only — the sole exchange allowed
    // is the gate's presentation sort
    val ch = plan("t_chunks")
    assert(!ch.contains("Exchange") || ch.contains("rangepartitioning"),
      s"chunking must not shuffle:\n${ch.take(400)}")
  }

  test("q19_asof: union+window shape — one key shuffle, no join node, no range explosion") {
    // AsOfJoin.backward is union-then-window, NOT a range join: a
    // refactor that regresses it to a time-range join would plan a
    // nested-loop/cartesian pair explosion whose cost scales with
    // time-range density instead of one hash shuffle + sort
    val p = plan("q19_asof")
    assert(p.contains("Union") && p.contains("Window"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must not plan any join node")
    // exactly ONE data-scale hash shuffle (the window's key partition);
    // the only other exchange is the final presentation orderBy's range
    val hashEx = "hashpartitioning".r.findAllIn(p.toLowerCase).size
    assert(hashEx == 1, s"expected 1 hash exchange, plan has $hashEx")
  }

  test("p_split_flatmap: the uniq.major filter collapses to the scan column and pushes past the explode") {
    // the pipeline's order-carrying struct uniq must not block pushdown:
    // struct(uniq,pos).major simplifies back to doc_id, and the filter
    // commutes below Generate into the parquet scan — a regression here
    // makes every table-rooted pipeline read the full table
    val p = plan("p_split_flatmap")
    assert(p.contains("LessThan(doc_id,40)"),
      s"doc_id filter must reach PushedFilters:\n${p.take(600)}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to the two used columns")
  }

  test("d_incr_steady: corpus side reads the persisted index; Bloom probe is in-plan") {
    // the steady-state gate must NOT recompute the corpus line table:
    // its anti-join's right side scans the compacted graft-lineidx
    // parquet, and the batch side carries the map-side Bloom prefilter
    // (definite-novel lines never reach the exchange)
    val p = plan("d_incr_steady")
    assert(p.contains("graft-lineidx"),
      "corpus side must scan the persisted line-hash index parquet")
    // the registered graft_might_contain expression renders by its
    // expression name in explain output
    assert(p.contains("might_contain"),
      "the serialized Bloom prefilter must appear as an in-plan predicate")
  }

  test("d_substr_spans: ONE materialized gram stream feeds both semi-join sides") {
    // duplicateSpans' expensive map work is the per-position md5 gram
    // stream; it feeds the frequency agg AND the semi-join probe. The
    // shared() boundary must make both plan legs read the SAME RDD —
    // two independent gram recomputations here would double the map
    // cost of the whole operator at 100 TB.
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def rddScans(p: SparkPlan): Seq[Int] = p.collect {
      case a: AdaptiveSparkPlanExec => rddScans(a.executedPlan)
      case q: QueryStageExec => rddScans(q.plan)
      case r: RDDScanExec => Seq(r.inputRDD.id)
    }.flatten
    val df = SparkEntry.queries("d_substr_spans")(spark, dir)
    df.collect()  // AQE: materialize so the final stage tree is inspectable
    val rddIds = rddScans(df.queryExecution.executedPlan)
    // 2 scans of one RDD, or 1 if ReuseExchange collapsed a leg outright
    assert(rddIds.nonEmpty && rddIds.distinct.size == 1,
      s"expected both semi-join legs on one shared gram RDD, got scans: $rddIds")
    // and the semi-join itself must be a hash join (unique build side),
    // never a nested loop over the gram stream
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi") && !p.contains("NestedLoop"),
      s"gram-dup filter must be a semi hash join:\n${p.take(800)}")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline of q2") {
    // AQE hides codegen spans until execution: run the query, then
    // inspect the final adaptive plan for WholeStageCodegen operators.
    val df = SparkEntry.queries("q2_filter_project")(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // QueryStageExec wraps materialized stages, so walk the rendered
    // tree: "*(n)" prefixes mark WholeStageCodegen spans.
    val rendered = finalPlan.toString
    assert(rendered.contains("*("), s"no WholeStageCodegen span in:\n$rendered")
  }

  test("session additions keep their scale shapes: hamming broadcast, map-side bigram pairs, linkage equi-join") {
    // s_hamming: the coarse popcount pass streams the corpus against
    // BROADCAST query signatures (non-equi self-exclusion ⇒ the
    // broadcast nested-loop form — the designed every-row-scan, with
    // the 32x-compressed signatures, never a shuffle of the corpus);
    // the exact-cosine refine re-joins only the shortlist by hash join
    val ph = plan("s_hamming")
    assert(ph.contains("BroadcastNestedLoopJoin"), ph.take(800))
    assert(ph.contains("BroadcastHashJoin") || ph.contains("SortMergeJoin"))
    // t_bigram_lm / t_bigram_incr: the (prev, t) pair stream is derived
    // by zipping the token array with its shifted self — NO per-doc lag
    // window (a Window node here would be a data-scale sort shuffle)
    assert(!plan("t_bigram_lm").contains("Window"), "bigram pairs must not use a window")
    assert(!plan("t_bigram_incr").contains("Window"))
    // d_linkage: candidate generation is an EQUI-join on the blocking
    // trigram — a nested-loop/cartesian here would be batch x master
    assert(!plan("d_linkage").contains("NestedLoop"))
    // q32_hilbert: key derivation is a pure projection + the output
    // sort — no join or aggregation anywhere in the plan
    val phi = plan("q32_hilbert")
    assert(!phi.contains("Join") && !phi.contains("HashAggregate"))
    // s_hamming_banded: the query-heavy twin must do the OPPOSITE of
    // s_hamming — no nested loop anywhere: candidates come from an
    // EQUI-join on the (band, value) bucket, with id_a < id_b as a
    // post-join condition. Local fixture stats legitimately broadcast
    // the tiny banded side (HashJoin either way proves the equi keys);
    // with auto-broadcast off — the honest 100 TB statistics — the
    // same plan must fall back to a partitioned join, never NLJ.
    val pb = plan("s_hamming_banded")
    assert(!pb.contains("BroadcastNestedLoopJoin") && !pb.contains("CartesianProduct"),
      pb.take(800))
    // exactly-once pair emission is BY CONSTRUCTION (first-matching-
    // band filter), not a `.distinct()` over the candidate-pair stream
    // — at 100 TB that stream is the job's largest intermediate and
    // must never pay a dedup exchange: NO aggregate node of any kind
    // may appear in the banded-pairs plan (r11 verdict item #1)
    assert(!pb.contains("HashAggregate") && !pb.contains("SortAggregate") &&
      !pb.contains("ObjectHashAggregate"),
      "banded pairs must not dedup/aggregate the pair stream")
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pb2 = plan("s_hamming_banded")
      assert(pb2.contains("SortMergeJoin") || pb2.contains("ShuffledHashJoin"),
        "banded pairs must bucket-join under honest stats")
      assert(!pb2.contains("BroadcastNestedLoopJoin") && !pb2.contains("CartesianProduct"))
      // q36_range_join under honest stats too: with broadcast
      // impossible, the bucket equi-key must carry the join — a lost
      // equi-key degrades to the |P|·|I| nested loop the operator
      // exists to avoid, which the default-stats assert above would
      // mask behind a trivially-fine BroadcastHashJoin
      val pr2 = plan("q36_range_join")
      assert(pr2.contains("SortMergeJoin") || pr2.contains("ShuffledHashJoin"),
        "range join must bucket-join under honest stats")
      // no giant intervals in the gate fixture ⇒ the operator's
      // build-time probe must have attached NO overflow leg at all —
      // an unconditional empty leg would re-stream the whole points
      // side past an empty build on every execution (r12 review fix)
      assert(!pr2.contains("BroadcastNestedLoopJoin") &&
        !pr2.contains("CartesianProduct"))
      // q37_interval_join under honest stats: the small×small pair
      // stream must come from the bucket EQUI-join, with no overflow
      // legs attached (no giant intervals in the fixture)
      val p37 = plan("q37_interval_join")
      assert(p37.contains("SortMergeJoin") || p37.contains("ShuffledHashJoin"),
        "interval overlap must bucket-join under honest stats")
      assert(!p37.contains("BroadcastNestedLoopJoin") &&
        !p37.contains("CartesianProduct"))
      // and WITH a domain-spanning interval, the overflow leg appears
      // as EXACTLY one broadcast-hinted nested loop (honest stats in
      // force — only the hint can be carrying the broadcast), next to
      // the intact bucket equi-join (node named twice in formatted
      // explain: tree + detail block)
      import org.apache.spark.sql.functions.{col => c, lit}
      val ev = graft.core.Tables(spark, dir).events
      val advIvs = ev.select(c("user_id").as("iv"),
          (c("user_id") * 40).as("s"), (c("user_id") * 40 + 60).as("e"))
        .unionAll(spark.range(1).select(lit(-1L).as("iv"),
          lit(Long.MinValue / 4).as("s"), lit(Long.MaxValue / 4).as("e")))
      val padv = graft.operators.RangeJoin.pointInInterval(
          ev.select(c("event_id")), advIvs, "event_id", "s", "e",
          bucketWidth = 64)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert("BroadcastNestedLoopJoin".r.findAllIn(padv).size == 2, padv.take(800))
      assert(padv.contains("SortMergeJoin") || padv.contains("ShuffledHashJoin") ||
        padv.contains("BroadcastHashJoin"))
      assert(!padv.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    // q34_cms: the sketch build must partial-aggregate (map-side
    // combine collapses each partition to ≤ depth·width cells before
    // the shuffle — the whole point of a mergeable sketch), and the
    // probe joins the BROADCAST sketch, never shuffling the probe side
    // against the corpus
    val pc = plan("q34_cms")
    assert("HashAggregate".r.findAllIn(pc).size >= 2, "cms build must map-side combine")
    assert(pc.contains("BroadcastHashJoin"), "cms probe must join the broadcast sketch")
    // q36_range_join: the whole point of the bucketized form is that a
    // non-equi containment predicate becomes an EQUI-join on the
    // bucket — a nested loop over the DATA is the |P|·|I| scale-killer
    // the operator exists to avoid (and with no giant intervals in the
    // fixture, the overflow leg must not even be attached)
    val pr = plan("q36_range_join")
    assert(!pr.contains("BroadcastNestedLoopJoin") &&
      !pr.contains("CartesianProduct"), pr.take(800))
  }

  test("partitioned parquet layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.core.Tables(spark, dir).events
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val q = spark.read.parquet(out).filter(col("event_type") === "click")
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("event_type"))
    // the pruned scan must read only the one partition directory
    val files = q.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("event_type=click")))
  }
}
