package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north star;
  * SURVEY §7.2-M6). All are shuffle-minimal distributed designs:
  * nothing here is O(n²) over the corpus — candidate generation is
  * always hash-bucketed so the only pairwise work happens inside small
  * buckets.
  */
object Dedup {

  /** Exact dedup by content hash: every doc mapped to the canonical
    * (minimum) doc_id of its normalized-text group.
    *
    * Scale: one hash-partitioned shuffle on a 32-hex-char key; group
    * state is one long. 100 TB ⇒ shuffle is |corpus| × ~40 B, the
    * minimum possible for exact dedup. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val hashed = docs.select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
    val canon = hashed.groupBy("fp")
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("group_size"))
    hashed.join(canon, "fp")
      .select(col(idCol), col("canonical_id"), col("group_size"))
  }

  /** Corpus-wide line-level dedup (the CCNet / RefinedWeb document-
    * preparation step: drop every repeat of a line across the WHOLE
    * corpus, keeping only its first occurrence, and drop boilerplate
    * lines outright once they repeat more than `maxFreq` times).
    *
    * Semantics: split each doc on `sep`; a line survives iff (a) its
    * corpus frequency is ≤ `maxFreq` and (b) this (doc, position) is
    * the corpus-minimum occurrence of the line's exact content,
    * ordered by (`idCol`, position). EMPTY lines are structure, not
    * content — a paragraph break (`\n\n`) yields a "" line, which is
    * always kept and never counted, so blank-line layout survives
    * dedup instead of being the most frequent "line" in the corpus.
    * Surviving lines are reassembled in original order; a doc whose
    * every line was dropped stays in the output with empty text (so
    * downstream length filters see it).
    *
    * Output: (`idCol`, text, n_kept, n_lines).
    *
    * Scale: two hash shuffles, both on keys with map-side combine —
    * one on the line content (frequency + first-occurrence agg, group
    * state one struct), one on `idCol` (reassembly). The join back is
    * keyed on (line, id, pos) — unique on BOTH sides by construction,
    * so the hot boilerplate lines that dominate real corpora (the
    * whole point of the operator) cannot skew a join partition; only
    * the frequency agg sees them, and min/count are algebraic so the
    * skew collapses map-side. Nothing is O(n²) and no doc's full text
    * crosses the wire twice: the reassembly shuffle carries only
    * surviving lines. */
  def dedupLines(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                 sep: String = "\n", maxFreq: Long = Long.MaxValue): DataFrame = {
    val lines = splitLines(docs, textCol, idCol, sep)
    val content = lines.where(col("line") =!= "")
    val firsts = content.groupBy("line")
      .agg(min(struct(col(idCol), col("pos"))).as("first"), count(lit(1)).as("freq"))
      .where(col("freq") <= maxFreq)
      .select(col("line"), col(s"first.$idCol").as(idCol), col("first.pos").as("pos"))
    val kept = content.join(firsts, Seq("line", idCol, "pos"))
      .unionByName(lines.where(col("line") === ""))
    reassembleLines(kept, docs, textCol, idCol, sep)
  }

  /** The (id, pos, line) long form of a line-structured corpus —
    * shared by [[dedupLines]] and the incremental
    * [[BloomDedup.incrementalLineDedup]]. `sep` is literal, not regex. */
  private[operators] def splitLines(docs: DataFrame, textCol: String,
                                    idCol: String, sep: String): DataFrame =
    spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "pos", "line")

  /** Rebuild (`idCol`, text, n_kept, n_lines) from surviving (id, pos,
    * line) rows, preserving order; docs whose every line was dropped
    * stay present with empty text, and a NULL-text doc reports
    * (id, "", 0, 0) instead of poisoning n_lines with null. */
  private[operators] def reassembleLines(kept: DataFrame, docs: DataFrame,
                                         textCol: String, idCol: String,
                                         sep: String): DataFrame = {
    val rebuilt = kept.groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("pos"), col("line")))).as("ks"))
      .select(col(idCol),
        array_join(transform(col("ks"), k => k("line")), sep).as("__kept_text"),
        size(col("ks")).cast("long").as("n_kept"))
    docs.select(col(idCol),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(split(col(textCol), java.util.regex.Pattern.quote(sep))).cast("long"))
          .as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__kept_text"), lit("")).as(textCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("n_lines"))
  }

  /** Round-robin repartition of a SMALL input whose scan parallelism is
    * below the cluster's core count, so per-row-heavy stages (regex
    * tokenize, per-position md5) use every core instead of the scan's
    * split count. A 100 TB input never triggers this (parquet splits at
    * ~128 MB mean partitions >> cores, and partitions < cores implies
    * the input is at most a few GB — a trivial shuffle); a small local
    * table arrives as ONE split and would otherwise pin the whole
    * compute to one core (measured 3.4 s single-threaded md5 at sf0.1).
    *
    * The parallelism probe reads PLAN METADATA only ([[estimatedScanParallelism]]),
    * never `df.rdd`: under AQE, `Dataset.rdd` eagerly materializes
    * shuffle stages at operator-CONSTRUCTION time (the round-4
    * regression class), and on a streaming DataFrame it throws. */
  private def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedScanParallelism(df) < parallelism) df.repartition(parallelism) else df
  }

  /** Construction-time parallelism estimate from the PHYSICAL plan
    * (`sparkPlan` — planned but never executed, so no jobs run). A
    * shuffle anywhere in the plan sets the downstream parallelism to
    * its partition count; otherwise the scan leaves bound it: file
    * scans by bytes / split size, local relations by Spark's own
    * min(rows, defaultParallelism) rule, pre-existing RDDs by their
    * partition count (metadata, not materialization). Unknown leaf
    * types — and any planning failure — report "plenty", so the
    * default is NO extra shuffle. */
  private[operators] def estimatedScanParallelism(df: DataFrame): Int =
    try {
      import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val plan = df.queryExecution.sparkPlan
      val exchanges = plan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
      }
      if (exchanges.nonEmpty) exchanges.max
      else {
        val conf = df.sparkSession.sessionState.conf
        val defaultPar = df.sparkSession.sparkContext.defaultParallelism
        plan.collectLeaves().map {
          case f: FileSourceScanExec =>
            val bytes = f.relation.location.sizeInBytes
            val split = math.max(1L, conf.filesMaxPartitionBytes)
            math.min(Int.MaxValue.toLong, math.max(1L, bytes / split)).toInt
          case l: LocalTableScanExec =>
            math.max(1, math.min(l.rows.size, defaultPar))
          case r: RDDScanExec => r.rdd.getNumPartitions
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            // a cached input keeps the partitioning of the plan that
            // built the cache — plan metadata, not materialization
            math.max(1, m.relation.cachedPlan.outputPartitioning.numPartitions)
          case _ => Int.MaxValue
        }.reduceOption(math.max).getOrElse(Int.MaxValue)
      }
    } catch { case scala.util.control.NonFatal(_) => Int.MaxValue }

  /** Distinct word-n-gram shingle set per doc: (id, sh) long form with
    * `sh` a 60-BIT KEY ([[Text.shingleKey]]), not the raw n-gram
    * string. Hashing happens map-side, BEFORE the `repartition(sh)`
    * exchange every consumer adds: the exchange then carries a fixed 8
    * bytes per shingle instead of a string whose compressed size GROWS
    * with corpus scale (the r16 scale-decade measurement: lz4 loses
    * value repetition as the vocabulary multiplies, ~16→~36 B/row by
    * the third decade while rows stayed linear). Every downstream use —
    * equality joins, doc-freq caps, set sizes, intersection counts, the
    * minhash permutation input, PPJoin's (df, sh) global order — needs
    * only equality/ordering of shingles, which the key preserves
    * (collision bound: see [[Text.shingleKey]]).
    *
    * The token array is staged as its own projection column so the
    * shingle-assembly lambda reads an attribute — inlining `tokens(text)`
    * into the lambda re-runs the regex split per shingle position (see
    * [[Text.shinglesOf]]; CollapseProject keeps the stage because the
    * array is referenced more than once and non-cheap). */
  private[operators] def shingleSet(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), Text.tokens(col("__text")).as("__toks"))
      .select(col("id"), explode(Text.shinglesOf(col("__toks"), n)).as("__sh"))
      .select(col("id"), Text.shingleKey(col("__sh")).as("sh"))

  /** Lazy capped shingle set (id, sh), hash-partitioned by `sh` — the
    * shared candidate-generation input of [[ngramJaccard]], exposed so
    * plan tests can assert the broadcast anti-join cap shape that
    * materialization hides behind a checkpoint scan.
    *
    * The `repartition(sh)` comes FIRST deliberately: (a) the hot-shingle
    * count and the anti-join's probe side then share one identical
    * exchange, which ReuseExchange dedupes — the tokenize+explode runs
    * once; (b) the HashPartitioning survives a later
    * `localCheckpoint` (Dataset.checkpoint carries the physical plan's
    * outputPartitioning into the LogicalRDD), so the downstream
    * self-join on `sh` plans ZERO additional exchanges. */
  def cappedShingles(docs: DataFrame, n: Int, textCol: String, idCol: String,
                     maxDocFreq: Option[Long]): DataFrame =
    capHotKeys(shingleSet(docs, textCol, idCol, n).repartition(col("sh")),
      "sh", count(lit(1)), maxDocFreq)

  /** Skew mitigation at scale: drop keys (shingles / winnow prints)
    * present in more than `cap` docs from CANDIDATE GENERATION (a
    * stopword trigram or boilerplate print shared by half the corpus
    * creates quadratic join output while contributing nothing to
    * discrimination). Set sizes and intersection counts downstream use
    * the capped set consistently, so jaccard stays a true similarity
    * over the retained keys. The hot list is tiny (keys above a
    * corpus-wide doc-freq cap), so it ships as a broadcast anti-join —
    * the big stream is never shuffled for the cap, and since `df` is
    * already hash-partitioned by `key`, the hot-list agg adds no
    * exchange either.
    *
    * Applied AFTER [[shared]]'s checkpoint, never inside it: a
    * broadcast build inside a checkpointed subtree would run its
    * collect job at operator-CONSTRUCTION time (BroadcastExchange
    * materializes under `execute()`, which lazy checkpointing calls) —
    * construction must stay pure plan assembly. The checkpoint blocks
    * therefore retain hot-key rows; every read filters them map-side
    * via the (ReuseExchange-deduped) broadcast probe. */
  private def capHotKeys(df: DataFrame, key: String, docFreq: Column,
                         cap: Option[Long]): DataFrame =
    cap match {
      case None => df
      case Some(c) =>
        val hot = df.groupBy(key).agg(docFreq.as("df"))
          .filter(col("df") > c).select(key)
        df.join(broadcast(hot), Seq(key), "left_anti")
    }

  /** Reuse-without-leak materialization for a DataFrame that feeds
    * several plan branches: LAZY `localCheckpoint`. Compared to the
    * alternatives: `persist` inside an operator that returns a lazy
    * DataFrame has no unpersist point and pins CacheManager entries for
    * the session's lifetime (the round-3 leak); an EAGER checkpoint runs
    * jobs at operator-CONSTRUCTION time and materializes before the
    * caller even asks for rows (the round-4 2–4× regression). Lazy
    * checkpoint materializes once under the first real action, the
    * branches share the blocks, and the ContextCleaner reclaims them
    * when the result is dropped. Caveat (production): localCheckpoint
    * blocks live on executors only — on a long-lived cluster where
    * executor loss must be survivable, use `checkpoint()` with a
    * reliable directory instead. */
  /** Per-session lock serializing the AQE-off planning window in
    * [[shared]]: two threads constructing operators concurrently could
    * otherwise interleave get/set/restore (A saves "true", sets false;
    * B saves A's "false"; A restores "true"; B restores "false") and
    * strand AQE disabled for the WHOLE session. WeakHashMap so a
    * stopped session's lock entry is collectable. */
  private val aqePlanLocks =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Object]()
  private def aqePlanLock(s: org.apache.spark.sql.SparkSession): Object =
    aqePlanLocks.synchronized {
      aqePlanLocks.computeIfAbsent(s, _ => new Object)
    }

  /** Lineage truncation for iterative / branch-reused plans. Default:
    * `localCheckpoint` (executor blocks — fastest, but lost with an
    * executor). Set `spark.graft.checkpoint.reliable=true` to switch
    * EVERY graft truncation point ([[shared]], [[components]],
    * [[componentsStar]], [[graft.operators.Stage.reuse]],
    * [[graft.operators.Prefix]]) to a RELIABLE `checkpoint` into
    * `SparkContext.setCheckpointDir` / `spark.graft.checkpoint.dir` —
    * on a long-lived cluster an executor loss then recomputes from the
    * checkpoint files instead of failing the 40-round iterative job.
    * A missing directory throws at the first truncation rather than
    * silently degrading to executor-local blocks. */
  private[operators] def truncate(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean
    if (!reliable) df.localCheckpoint(eager)
    else {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty) {
        val dir = spark.conf.getOption("spark.graft.checkpoint.dir").getOrElse(
          throw new IllegalStateException(
            "spark.graft.checkpoint.reliable=true requires " +
              "SparkContext.setCheckpointDir(...) or spark.graft.checkpoint.dir"))
        sc.setCheckpointDir(dir)
      }
      df.checkpoint(eager)
    }
  }

  private[operators] def shared(df: DataFrame, materialize: Boolean): DataFrame =
    // a streaming plan cannot checkpoint (unbounded); branches then
    // recompute per micro-batch, which is the only valid semantics —
    // degrade silently instead of throwing from inside localCheckpoint
    if (!materialize || df.isStreaming) df
    else aqePlanLock(df.sparkSession).synchronized {
      // AQE must be off while PLANNING the checkpointed subtree:
      // AdaptiveSparkPlanExec reports UnknownPartitioning(0), so under
      // AQE the LogicalRDD forgets the repartition layout and every
      // downstream join re-shuffles (measured, Spark 4.1). With a
      // static plan the HashPartitioning is carried through — and
      // execute() stays fully lazy (AQE's execute() eagerly materializes
      // stages; a static plan's does not), so query CONSTRUCTION runs no
      // jobs. The outer query keeps AQE: only this subtree is static,
      // and the per-session lock above makes the set/restore atomic
      // against concurrent operator construction.
      //
      // autoBroadcastJoinThreshold is ALSO off for the window: a
      // BroadcastExchange inside the subtree materializes its build
      // side under `execute()` (doExecuteBroadcast blocks on the
      // collect job) — i.e. at operator-construction time, even with
      // eager=false. A co-partitioned SMJ/shuffled-hash join stays
      // fully lazy, and inside these subtrees it is also the honest
      // 100 TB plan (the implicit broadcasts only appear here because
      // local test relations estimate tiny — e.g. the shingle-vocab
      // join of [[signaturesFrom]], whose vocab side would never fit a
      // broadcast at scale and is already partitioned by `sh` anyway).
      // Explicit broadcast() hints are unaffected — which is why
      // [[capHotKeys]] applies OUTSIDE the checkpoint.
      val conf = df.sparkSession.conf
      val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
      val prevBcast = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try truncate(df, eager = false)
      finally {
        conf.set("spark.sql.adaptive.enabled", prevAqe)
        conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
      }
    }

  /** Exact n-gram Jaccard near-dup pairs ≥ `threshold`.
    *
    * Candidate generation is an equi-join on shared shingles (docs with
    * zero overlap never meet), then |∩| via group-count and |∪| from the
    * per-doc set sizes. Scale: the shingle join is hash-partitioned on
    * the shingle; hot shingles (stopword trigrams) are the skew risk —
    * at 100 TB add a document-frequency cap on shingles before the join
    * (drop shingles appearing in >X% of docs, standard practice).
    *
    * `materialize = false` skips the internal lineage truncation so the
    * full logical plan stays inspectable (plan tests); the default
    * truncates so the three consumers of the shingle set (sizes + both
    * self-join sides) share one computation — see [[shared]]. */
  def ngramJaccard(docs: DataFrame, threshold: Double, n: Int = 3,
                   textCol: String = "text", idCol: String = "doc_id",
                   maxDocFreq: Option[Long] = None,
                   materialize: Boolean = true): DataFrame = {
    // checkpoint the UNCAPPED partitioned set; the cap's broadcast
    // anti-join applies on the reads (see [[capHotKeys]] for why it
    // must not sit inside the checkpointed subtree)
    val s = capHotKeys(
      shared(shingleSet(docs, textCol, idCol, n).repartition(col("sh")), materialize),
      "sh", count(lit(1)), maxDocFreq)
    val sizes = s.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = s.as("a").join(s.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("na"), col("id_a") === col("na.id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.id"))
      .select(col("id_a"), col("id_b"),
        round(col("i") / (col("na.n") + col("nb.n") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard pairs ≥ `threshold` via PREFIX FILTERING —
    * the AllPairs/PPJoin candidate scheme (Bayardo et al., "Scaling Up
    * All Pairs Similarity Search", WWW'07; Xiao et al., "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW'08). IDENTICAL
    * output contract to [[ngramJaccard]] and provably lossless: the
    * filter cannot miss a qualifying pair, so this is the high-threshold
    * scale twin, not an approximation (contrast [[minhashLsh]], whose
    * recall is probabilistic).
    *
    * Why it scales where [[ngramJaccard]] strains: the all-shingles
    * self-join meets docs on EVERY shared shingle — Σ_sh df(sh)²
    * candidate rows, dominated by the medium-frequency shingles the
    * doc-freq cap deliberately keeps. Under a global shingle order
    * (rarest first), two sets with jaccard ≥ θ must share one of each
    * other's first n−⌈θn⌉+1 shingles. Proof: jaccard ≥ θ forces
    * |A∩B| ≥ θ|A∪B| ≥ ⌈θ·max(|A|,|B|)⌉ =: t; the SMALLEST common
    * shingle (in the global order) has ≥ t−1 common successors inside
    * each set, so it sits within the first |x|−t+1 positions of both
    * sides; and the kept per-side prefix |x|−⌈θ|x|⌉+1 ≥ |x|−t+1 only
    * extends that. So joining PREFIX occurrences only — at θ=0.8 the
    * rarest ~20% of each set, rare-shingle-heavy by construction —
    * finds every qualifying pair while bucket sizes collapse
    * quadratically in the kept fraction. The AllPairs length filter
    * (⌈θ·max(n_a,n_b)⌉ ≤ min(n_a,n_b), necessary because jaccard ≤
    * min/max) prunes size-incompatible collisions before the pair row
    * ever materializes.
    *
    * Scale shape: the df agg and its join-back reuse the checkpointed
    * sh-partitioning (zero extra exchanges); the per-doc rank is one
    * keyed window over doc-sized partitions; candidate generation is an
    * equi-join on the shingle over the PREFIX stream only and emits
    * each pair EXACTLY ONCE by construction (first-common-prefix-
    * shingle rule — see the in-code note; no `.distinct()` over the
    * candidate stream, the operator's largest intermediate);
    * verification joins candidates back to the full sets — the
    * verified-candidates idiom of [[minhashLsh]], with an
    * exact-complete candidate set. */
  def jaccardJoinPrefix(docs: DataFrame, threshold: Double, n: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id",
                        maxDocFreq: Option[Long] = None,
                        materialize: Boolean = true): DataFrame =
    ppjoinParts(docs, threshold, n, textCol, idCol, maxDocFreq, materialize)._3

  /** Diagnostic stage counts for [[jaccardJoinPrefix]] (r20 probe):
    * prefix-stream rows, candidate pairs admitted by the filter chain,
    * verified pairs — one shared construction with the operator so the
    * probe can never drift from the plan it measures. */
  def ppjoinStats(docs: DataFrame, threshold: Double, n: Int = 3,
                  textCol: String = "text", idCol: String = "doc_id",
                  maxDocFreq: Option[Long] = None): Seq[(String, Long)] = {
    val (prefix, cand, out) =
      ppjoinParts(docs, threshold, n, textCol, idCol, maxDocFreq, materialize = true)
    Seq("prefix_rows" -> prefix.count(),
      "candidate_pairs" -> cand.count(),
      "verified_pairs" -> out.count())
  }

  private[graft] def ppjoinParts(docs: DataFrame, threshold: Double, n: Int,
                                 textCol: String, idCol: String,
                                 maxDocFreq: Option[Long],
                                 materialize: Boolean): (DataFrame, DataFrame, DataFrame) = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // same capped shingle set as ngramJaccard: the cap applies before
    // sizes AND intersections, so jaccard stays the same similarity
    // over retained shingles — output equality with ngramJaccard holds
    // cap for cap (spec-pinned)
    val s = capHotKeys(
      shared(shingleSet(docs, textCol, idCol, n).repartition(col("sh")), materialize),
      "sh", count(lit(1)), maxDocFreq)
    // global rarest-first total order: (doc freq, shingle) — the
    // tie-break makes the order (and therefore the candidate set)
    // deterministic across runs and partitionings
    val dfreq = s.groupBy("sh").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("id").orderBy(col("df"), col("sh"))
    val rk = row_number().over(byDoc)
    val nW = count(lit(1)).over(Window.partitionBy("id"))
    // `before` = the prefix shingles ORDERED BEFORE this row's shingle
    // in the same global (df, sh) order — the payload behind the
    // exactly-once rule below. r20 (guide §2.3, shuffle/materialize
    // fewer bytes): the list is collected AFTER the prefix filter, in a
    // SECOND window pass over the surviving rows only — a prefix row's
    // predecessors in the (df, sh) order all have smaller ranks, i.e.
    // are themselves prefix rows, so the filtered collect builds the
    // identical lists while touching ~1/6 of the rows with ~1/3 the
    // average length (sf0.1: 500k rows × ~49-element lists → 81k rows ×
    // ~15). The second WindowExec shares the first's partitioning AND
    // ordering (the filter preserves both), so it adds no exchange and
    // no sort; the row's own rank `rk` rides along for the positional
    // filter (rank in the FULL order — row_number ran before the
    // filter).
    val ranked = s.join(dfreq, "sh")
      .select(col("id"), col("sh"), col("df"), rk.as("rk"), nW.as("n"))
      .filter(col("rk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
    val before = collect_list(col("sh"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val prefix = ranked
      .select(col("id"), col("sh"), col("rk"), col("n"), before.as("before"))
      .select("sh", "id", "n", "rk", "before")
    // exactly-once BY CONSTRUCTION (the hammingBandedPairs trick): a
    // pair sharing k prefix shingles would be emitted k times by the
    // equi-join; it is kept ONLY at its FIRST common prefix shingle.
    // Both prefixes are sorted by the same global (df, sh) total
    // order, so a common shingle earlier than this row's join shingle
    // exists iff the two `before` slices overlap — no aggregate, no
    // dedup shuffle over the candidate stream (the operator's largest
    // intermediate at near-dup-heavy scale; pre-r13 this was a
    // `.distinct()`). The trade — carrying the seen-so-far slice
    // through the candidate join — is bounded by the prefix length,
    // while the shuffle it removes grows with the near-dup pair count.
    // POSITIONAL filter (r20, the PPJoin refinement — Xiao et al.
    // WWW'08 §3; guide §3): measured at sf0.1 the prefix+length chain
    // admitted 104,475 candidate pairs for 256 verified (408:1), and
    // the verify join's cost is candidates × set size. At the pair's
    // FIRST common shingle (the only row the exactly-once rule keeps),
    // every other common shingle ranks AFTER it in BOTH docs — the
    // global (df, sh) order is one total order, so a common shingle
    // earlier than the join shingle would be in both `before` lists and
    // the row wouldn't be first-match. Hence |A∩B| ≤ 1 + min(|A|−pA,
    // |B|−pB) with pX = x.rk, the join shingle's rank in X's FULL
    // (df, sh) order. Jaccard ≥ θ needs |A∩B| ≥ θ(|A|+|B|)/(1+θ), so a
    // first-match row whose upper bound misses that floor can be
    // dropped LOSSLESSLY. The 1e-9 slack keeps the float product
    // conservative (a qualifying integer overlap can never be excluded
    // by the bound landing epsilon high); slack only ever ADMITS a
    // candidate the verify re-checks exactly.
    val posBound = lit(1) +
      least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          ceil(lit(threshold) * greatest(col("a.n"), col("b.n"))) <=
            least(col("a.n"), col("b.n")) &&
          posBound >= lit(threshold) / lit(1 + threshold) *
            (col("a.n") + col("b.n")) - lit(1e-9) &&
          !arrays_overlap(col("a.before"), col("b.before")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
    val inter = cand
      .join(s.as("sa"), col("id_a") === col("sa.id"))
      .join(s.as("sb"), col("id_b") === col("sb.id") && col("sa.sh") === col("sb.sh"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("i"))
    val out = inter
      .select(col("id_a"), col("id_b"),
        round(col("i") / (col("na") + col("nb") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (prefix, cand, out)
  }

  /** Cross-table fuzzy linkage (record linkage / entity resolution):
    * match LEFT records to RIGHT records whose normalized text is
    * char-trigram-Jaccard-similar ≥ `threshold` — the
    * "same real-world entity, differently spelled" join that exact
    * equi-joins can't express (name variants, typos, reformatting).
    * Unlike the self-join near-dup family above, the two sides are
    * different tables (new batch vs master, two sources to reconcile).
    *
    * Scale: candidate generation is an EQUI-join on the blocking
    * trigram — never left×right. A trigram shared by more than
    * `maxKeyFreq` records total (" co" in company names) is dropped
    * from blocking AND from the jaccard sets via one broadcast
    * anti-join per side (same consistent-cap argument as
    * [[ngramJaccard]]'s [[capHotKeys]]); per-record trigram sets are
    * deduped map-side (`charTrigrams` is distinct by construction), so
    * set sizes are one keyed agg per side. */
  def linkJaccard(left: DataFrame, right: DataFrame, threshold: Double,
                  textCol: String = "text", idCol: String = "id",
                  maxKeyFreq: Option[Long] = None,
                  materialize: Boolean = true): DataFrame = {
    import graft.functions.Text
    def tri(df: DataFrame, side: String) =
      df.select(col(idCol).as(side),
        explode(Text.charTrigrams(col(textCol))).as("sh"))
    // each side's exploded trigram stream feeds up to three branches
    // (hot-list union, size agg, intersection join) — materialize once
    // like every sibling operator (see [[shared]])
    val lt0 = shared(tri(left, "id_l"), materialize)
    val rt0 = shared(tri(right, "id_r"), materialize)
    val hot = maxKeyFreq.map { c =>
      lt0.select("sh").union(rt0.select("sh"))
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > c).select("sh")
    }
    def cap(df: DataFrame) =
      hot.fold(df)(h => df.join(broadcast(h), Seq("sh"), "left_anti"))
    val lt = cap(lt0); val rt = cap(rt0)
    val nl = lt.groupBy("id_l").agg(count(lit(1)).as("nl"))
    val nr = rt.groupBy("id_r").agg(count(lit(1)).as("nr"))
    lt.join(rt, "sh")
      .groupBy("id_l", "id_r").agg(count(lit(1)).as("i"))
      .join(nl, "id_l").join(nr, "id_r")
      .select(col("id_l"), col("id_r"),
        round(col("i") / (col("nl") + col("nr") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signature columns h0..h{perms-1} (after `id` and the set
    * size `n`): h_i = min over shingles of
    * the 60-bit prefix of md5(i || '|' || shingleKey) — the permutation
    * input is the shingle's 60-bit KEY rendered as its decimal string
    * (r17: [[shingleSet]] hashes before the exchange), not the raw
    * n-gram. md5-as-permutation keeps the signature deterministic and
    * engine-portable (the oracle computes the identical bigint from
    * `('0x' || substr(md5(sh), 1, 15))::bigint::varchar`). */
  def minhashSignatures(docs: DataFrame, perms: Int, n: Int = 3,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    signaturesFrom(shingleSet(docs, textCol, idCol, n), perms)

  /** Signatures from a (id, sh) long-form shingle set: (id, n,
    * h0..h{perms-1}), where `n` is the doc's row count in `s` — its set
    * size, counted in the same aggregation (the vocab join-back yields
    * exactly one row per `s` row, `vocab` being distinct on `sh`). The `perms`
    * md5 hashes are computed once per DISTINCT shingle (the shingle
    * vocabulary is far smaller than the occurrence list — natural-text
    * trigrams repeat heavily), then joined back — at 100 TB this turns
    * the dominant hash cost from O(occurrences × perms) into
    * O(vocabulary × perms).
    *
    * Hash values are 60-bit bigints (15 hex chars of the md5 — positive,
    * fits int64): min(long) aggregation state is 8 bytes/perm instead of
    * a 32-char string, and numeric min over equal-width hex prefixes
    * equals the lexicographic min the oracle computes. */
  private[operators] def signaturesFrom(s: DataFrame, perms: Int): DataFrame = {
    // sh is the 60-bit shingle key (a long); its DECIMAL string feeds
    // the permutation md5 — the cast is explicit so the value contract
    // with the oracle (bigint::varchar) is visible here, not buried in
    // concat's implicit coercion
    val vocab = s.select("sh").distinct()
      .select(col("sh") +: (0 until perms).map(i =>
        Text.md5Prefix(concat(lit(s"$i|"), col("sh").cast("string")), 15)
          .as(s"x$i")): _*)
    val mins = (0 until perms).map(i => min(col(s"x$i")).as(s"h$i"))
    s.join(vocab, "sh").groupBy("id").agg(count(lit(1)).as("n"), mins: _*)
  }

  /** First-matching-band guard: TRUE iff any position of the two
    * `before` band-signature arrays is equal — the exactly-once rule's
    * predicate, shared verbatim by [[minhashLsh]] and the streaming
    * curation text lane ([[CurationStream]]) whose batch==stream hash
    * equality requires the identical guard. r19: the codegen'd
    * [[graft.expressions.BandMatch]] kernel instead of the interpreted
    * `exists(zip_with(...))` chain — this predicate sits in the
    * band-bucket self-JOIN CONDITION, evaluated once per raw band
    * collision (guide §4; value contract pinned in the expression's
    * scaladoc and OperatorSpec). */
  private[graft] def bandMatch(a: Column, b: Column): Column = {
    graft.expressions.GraftFunctions.registerKnownSessions()
    call_function("graft_band_match", a, b)
  }

  /** MinHash + LSH near-dup candidates, verified by exact Jaccard.
    *
    * shingle → minhash (perms) → band (rows-per-band) → bucket-join:
    * docs collide iff one band's full signature matches. Scale: the
    * only shuffles are (a) shingle→signature agg, (b) the band-bucket
    * self-join whose key is (band, sig) — bucket sizes are tiny under
    * any reasonable banding, so the pairwise verify is bounded. This is
    * the standard 100 TB design; the exact-Jaccard verify of candidates
    * reuses the shingle join above on the candidate subset only.
    *
    * Candidates are exactly-once BY CONSTRUCTION (the
    * [[graft.operators.Similarity.hammingBandedPairs]] /
    * [[jaccardJoinPrefix]] rule transplanted): a pair agreeing in k
    * bands would surface k times from the bucket join; it is kept ONLY
    * at its FIRST matching band — each banded row carries the band
    * signatures BEFORE its own (≤ bands−1 md5 strings), and the join
    * drops a collision whose earlier signatures already matched. No
    * `.distinct()` over the candidate stream, which at near-dup-heavy
    * scale is the operator's largest intermediate multiplied by the
    * band count. */
  def minhashLsh(docs: DataFrame, threshold: Double, perms: Int = 16, bands: Int = 4,
                 n: Int = 3, textCol: String = "text", idCol: String = "doc_id",
                 materialize: Boolean = true): DataFrame = {
    require(perms % bands == 0, "perms must divide into bands")
    val rows = perms / bands
    // one shared shingle set feeds signatures AND the jaccard verify;
    // partitioned by sh BEFORE the truncation so the vocab distinct and
    // the vocab join-back downstream are exchange-free (see [[shared]]
    // for why lazy localCheckpoint, and its executor-loss caveat)
    val s = shared(shingleSet(docs, textCol, idCol, n).repartition(col("sh")), materialize)
    val sig = signaturesFrom(s, perms)
    val bandSigs = (0 until bands).map { b =>
      md5(concat_ws("|", (0 until rows).map(r =>
        col(s"h${b * rows + r}").cast("string")): _*))
    }
    // shared: the banded signatures are both sides of the bucket
    // self-join — without this the whole shingle→vocab→min-agg lineage
    // runs twice. Partitioned by the bucket key first so the self-join
    // reuses the layout instead of re-shuffling unknown partitioning.
    // `before` = this row's EARLIER band signatures (a slice of the
    // same array, ≤ bands−1 entries), the payload behind the
    // first-matching-band rule below; `n` (the set size) rides along
    // to the verify.
    val banded = shared(
      sig.select(col("id"), col("n"), array(bandSigs: _*).as("sigs"))
        .select(col("id"), col("n"), col("sigs"),
          posexplode(col("sigs")).as(Seq("band", "sig")))
        .select(col("id"), col("n"), col("band"), col("sig"),
          slice(col("sigs"), lit(1), col("band")).as("before"))
        .repartition(col("band"), col("sig")), materialize)
    // exactly-once BY CONSTRUCTION: a pair is kept only where its
    // earlier band signatures do NOT already match — i.e. at the first
    // matching band. Both `before` slices have equal length (= band,
    // equi-joined), so the positional zip compares band j with band j.
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id") &&
          !bandMatch(col("a.before"), col("b.before")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
    // verify candidates with exact jaccard (reusing the persisted set)
    verifyJaccard(cand, s, threshold)
  }

  /** Exact-jaccard verification of a candidate pair set (id_a, id_b,
    * with the two set sizes na, nb) against a shingle long form `sh`
    * (columns id, sh) — the [[minhashLsh]] verify tail, also the verify
    * stage of the streaming curation lane ([[CurationStream]]).
    * Batch==stream hash equality requires the IDENTICAL intersection
    * join and 4-decimal rounding, so there is exactly one copy of it.
    * Returns (id_a, id_b, jaccard) at or above `threshold`. */
  private[operators] def verifyJaccard(cand: DataFrame, sh: DataFrame,
                                       threshold: Double): DataFrame =
    cand
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id") && col("sa.sh") === col("sb.sh"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("i"))
      .select(col("id_a"), col("id_b"),
        round(col("i") / (col("na") + col("nb") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Connected components over a near-dup pair set (hash-min label
    * propagation): every doc in a transitively-connected cluster gets
    * the cluster's minimum id as its component. The principled
    * survivors-selection for near-dup REMOVAL: keep one doc per
    * component — a pairwise "drop the larger id" leaves extra survivors
    * on transitive clusters like {(a,c),(b,c)} (b never appears as the
    * larger id yet duplicates the same cluster).
    *
    * Scale: the classic Spark CC shape — one equi-join + min-agg per
    * iteration, converging in O(cluster diameter) rounds; near-dup
    * clusters are shallow (diameter ≤ 3-4 in practice), so 10
    * iterations is a generous ceiling. Each round ends in
    * `localCheckpoint` — iteration on Spark REQUIRES lineage
    * truncation (the logical plan doubles per round otherwise and
    * optimization blows up around round 8); on a long-lived production
    * cluster prefer `checkpoint` with a reliable dir so executor loss
    * stays recoverable.
    *
    * BEHAVIOR CHANGE (round 8): `strict` now defaults to TRUE — a
    * non-converged run throws instead of warning and returning partial
    * labels (partial labels silently keep spurious "canonical" docs
    * downstream). Callers with pair graphs of diameter > `maxIter`
    * (long chains — e.g. serialized chapter overlaps) should use
    * [[componentsStar]], which converges in O(log n) ROUNDS regardless
    * of diameter, rather than raising `maxIter` here. */
  /** Free the executor blocks behind a checkpointed DataFrame that no
    * later plan will read again — deterministic cleanup for iterative
    * jobs, instead of waiting for the driver GC + ContextCleaner to
    * notice the dead reference (across a long driver lifetime the dead
    * rounds otherwise pile up in block storage and evict live data). */
  private def dropCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  def components(pairs: DataFrame, maxIter: Int = 10,
                 strict: Boolean = true): DataFrame = {
    // ONE eager materialization of the pair list — the upstream near-dup
    // pipeline runs once; the symmetric edge view is a union of two
    // reads of the same checkpointed blocks, not a second computation
    // (a checkpoint of the union would run `pairs` twice).
    val p = truncate(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")), eager = true)
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    var labels = truncate(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")), eager = true)
    var prevRound = labels
    val compType = labels.schema("comp").dataType
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // One heavy action per round: the previous label rides along as
      // __old through the min-agg (labels contributes exactly one row
      // per id, so max(__old) recovers it; the neighbor branch carries
      // null). The convergence probe is then a short-circuiting isEmpty
      // over the just-checkpointed partitions — no second join, no
      // recomputation (the old shape re-joined next with labels and
      // counted, a full extra shuffle per round).
      val viaNeighbor = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("comp"),
          lit(null).cast(compType).as("__old"))
      val next = labels.select(col("id"), col("comp"), col("comp").as("__old"))
        .union(viaNeighbor)
        .groupBy("id").agg(min("comp").as("comp"), max("__old").as("__old"))
        .transform(truncate(_, eager = true))
      converged = next.filter(col("comp") =!= col("__old")).isEmpty
      // the previous round's labels can never be read again — free its
      // blocks now (the FINAL round's blocks stay: they back the result)
      dropCheckpointBlocks(prevRound)
      prevRound = next
      labels = next.select("id", "comp")
      i += 1
    }
    // the directed pair list only fed the per-round joins
    dropCheckpointBlocks(p)
    if (!converged) {
      // Silently returning partial labels would let a downstream
      // curation step keep spurious "canonical" docs — surface it.
      val msg = s"Dedup.components did not converge after $maxIter " +
        "iterations — labels are partial (raise maxIter; near-dup " +
        "clusters normally have diameter <= 3-4)"
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels
  }

  /** Quality-aware survivor selection over a near-dup pair graph: label
    * every doc with its transitive cluster ([[components]]; singletons
    * are their own cluster), then keep the cluster member with the
    * HIGHEST `scoreCol` (ties → lowest id) instead of the lowest-id
    * member that plain dedup keeps. This is how production curation
    * picks among near-duplicates — the longest / highest-quality copy
    * survives, not an arbitrary one (e.g. keep the full article over
    * its truncated syndication).
    *
    * Scale: the component labeling is the bounded-round propagation of
    * [[components]]; the selection adds ONE keyed window over the
    * cluster (score desc, id) — partitions are cluster-sized (small by
    * construction: near-dup clusters), never a global sort. Docs
    * outside every pair never enter the propagation; they join back
    * `left` and survive trivially.
    *
    * NULL scores order LAST (explicit `desc_nulls_last`): a
    * NULL-scored member never wins over any scored member, and a
    * cluster whose members are ALL unscored falls back to lowest-id
    * survivor selection — i.e. plain dedup semantics. Mixed
    * NULL/non-NULL clusters therefore ignore the unscored members'
    * quality entirely; score every doc (or filter unscored ones)
    * upstream if that matters for the workload.
    *
    * Output: (id, cluster, survivor_id, keep). */
  def keepBest(docs: DataFrame, pairs: DataFrame, scoreCol: String,
               idCol: String = "doc_id", maxIter: Int = 10,
               strict: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = components(pairs, maxIter, strict).withColumnRenamed("id", "__cid")
    val labeled = docs.select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(comp, col("id") === col("__cid"), "left")
      .select(col("id"), col("__score"),
        coalesce(col("comp"), col("id")).as("cluster"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("__score").desc_nulls_last, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    labeled.withColumn("survivor_id", first("id").over(w))
      .select(col("id"), col("cluster"), col("survivor_id"),
        (col("id") === col("survivor_id")).as("keep"))
  }

  /** Connected components by alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): same output contract as [[components]] — every node
    * labeled with its component's minimum id — but convergence is
    * O(log n) ROUNDS instead of O(cluster diameter). [[components]]'s
    * hash-min propagation moves labels one hop per round, which is
    * right for shallow near-dup cliques; on an adversarial pair graph
    * (a 10,000-link chain of pairwise near-dups — think serialized
    * chapter overlaps) it needs 10,000 rounds. Star operations
    * restructure the graph itself, halving-or-better the height each
    * alternation:
    *
    *   - large-star: every node's LARGER neighbors re-attach to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: every node and its ≤ neighbors re-attach to that
    *     minimum.
    *
    * Each is one symmetric-edge aggregation + one join, hash-partitioned
    * on the node — the same per-round shuffle budget as one hash-min
    * round. Convergence = the edge multiset stabilized, checked with a
    * count + order-free checksum aggregate over the checkpointed round
    * (no extra shuffle). The converged graph is a forest of stars, so
    * the final labels fall out of one neighborhood-min aggregation. */
  def componentsStar(pairs: DataFrame, maxIter: Int = 25,
                     strict: Boolean = true): DataFrame = {
    def sym(e: DataFrame) =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // neighborhood minimum per node: m(u) = min(Γ(u) ∪ {u})
    def mins(symE: DataFrame) = symE.groupBy("src")
      .agg(least(min(col("dst")), col("src")).as("m"))
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      s.filter(col("dst") > col("src"))
        .join(mins(s), "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // S(u) = {v ∈ Γ(u) : v <= u} ∪ {u}; attach S \ {m} to m = min S.
      // Orient every edge large→small first: then each node's SMALLER
      // neighbors are exactly its dst set, and m = min(dsts ∪ {u}).
      val oriented = sym(e).filter(col("dst") < col("src"))
      val m = oriented.groupBy("src").agg(min("dst").as("m"))
      oriented.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(m.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // order-free edge-set signature: count + XOR of a per-edge hash
    // (bit_xor is commutative/associative and cannot overflow ANSI longs)
    def signature(e: DataFrame): (Long, Long) = {
      val row = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    // ONE materialization of the upstream pair pipeline; the node set
    // derives from the checkpointed edges (its own checkpoint, because
    // the per-round cleanup below frees e's blocks as rounds advance).
    // Self-loop pairs stay in: both star ops ignore them (strict
    // inequalities), so they wash out after one alternation, and the
    // node set keeps their endpoints — the [[components]] contract.
    // Edges enter ORIENTED large→small: star rounds emit that
    // orientation, so an already-star-shaped input matches its own
    // round-1 signature — without this, re-orientation alone forces a
    // wasted extra alternation on every invocation.
    var e = truncate(pairs.select(
        greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .distinct(), eager = true)
    val nodes = truncate(sym(e).select(col("src")).distinct(), eager = true)
    var sig = signature(e)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = truncate(smallStar(largeStar(e)), eager = true)
      val nextSig = signature(next)
      converged = nextSig == sig
      dropCheckpointBlocks(e)
      e = next
      sig = nextSig
      i += 1
    }
    if (!converged) {
      val msg = s"Dedup.componentsStar did not converge after $maxIter " +
        "alternations — labels would be partial (raise maxIter; " +
        "expected rounds are logarithmic in component size)"
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // stars: every node's component is its neighborhood minimum; nodes
    // join back so isolated self-pair docs keep their own label
    val labels = mins(sym(e))
      .select(col("src").as("id"), col("m").as("comp"))
    nodes.join(labels, nodes("src") === labels("id"), "left")
      .select(nodes("src").as("id"),
        coalesce(col("comp"), nodes("src")).as("comp"))
  }

  /** Passage-level near-dup pairs via winnowing fingerprints
    * (Schleimer et al., SIGMOD'03): docs sharing ≥ `minShared` winnow
    * prints — catches a copied PASSAGE inside otherwise-different
    * documents, which whole-doc jaccard dilutes below any threshold.
    *
    * Scale: same shape as the shingle join — explode prints,
    * hash-partitioned equi-join on the print, group-count; the
    * `maxDocFreq` cap drops boilerplate prints (license headers,
    * navigation chrome) that would otherwise create quadratic join
    * output, exactly like the hot-shingle cap in [[ngramJaccard]].
    *
    * Prints are md5 k-gram hashes ([[Text.kgramHashes]] +
    * [[Text.winnowMins]]), not the rolling hash of [[Text.winnow]]:
    * the winnowing SELECTION (min per sliding window, distinct) is
    * identical, but md5 is computable bit-for-bit in the DuckDB oracle,
    * so the gate gets a full hash check — and the whole pipeline stays
    * codegen'd column expressions (no UDF). Each stage is its own
    * projection so lambdas only capture attributes (per-element
    * re-evaluation gotcha, see [[Text.shinglesOf]]). */
  def winnowPairs(docs: DataFrame, minShared: Long, k: Int = 8, window: Int = 4,
                  textCol: String = "text", idCol: String = "doc_id",
                  maxDocFreq: Option[Long] = None,
                  materialize: Boolean = true): DataFrame = {
    val p0 = spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), Text.normalize(col("__text")).as("__t"))
      .select(col("id"), Text.kgramHashes(col("__t"), k).as("__hs"))
      .select(col("id"), explode(Text.winnowMins(col("__hs"), window)).as("p"))
      .distinct()
    // the capped print set feeds both self-join sides: same shared
    // materialization as ngramJaccard (partitioned by the join key so
    // the self-join plans zero exchanges, lazy checkpoint for reuse
    // without a cache leak — see [[shared]])
    winnowJoin(p0, minShared, maxDocFreq, materialize)
  }

  /** Production-throughput variant of [[winnowPairs]]: identical
    * winnowing SELECTION (min per sliding window, distinct, df cap,
    * print equi-join) over [[Text.winnow]]'s one-pass ROLLING-hash
    * prints instead of per-position md5 k-grams. The rolling hash is
    * O(len) per doc instead of O(len·k) — measured 16.1 → 12.9 s
    * end-to-end on the 10× soak (the join dominates; the hash step
    * itself shrinks ~3×). Both forms carry full hash oracles: md5 via
    * DuckDB's md5(), the rolling form via positional HUGEINT recompute
    * of the same base-257 mod-2^64 hash with SIGNED window minima
    * (d_winnow_fast in [[graft.queries.LlmOracles]]). */
  def winnowPairsFast(docs: DataFrame, minShared: Long, k: Int = 8, window: Int = 4,
                      textCol: String = "text", idCol: String = "doc_id",
                      maxDocFreq: Option[Long] = None,
                      materialize: Boolean = true): DataFrame = {
    // register on the INPUT's session, not the thread-local active one:
    // Text.winnow's call_function resolves against the session that
    // analyzes this frame, which on a thread-pool driver thread need
    // not be the active session
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val p0 = spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      // raw text: Text.winnow normalizes internally — wrapping it in
      // normalize() again would run the full-text regex pass twice per
      // row on this map-side hot path
      .select(col("id"), explode(Text.winnow(col("__text"), k, window)).as("p"))
      .distinct()
    winnowJoin(p0, minShared, maxDocFreq, materialize)
  }

  private def winnowJoin(p0: DataFrame, minShared: Long,
                         maxDocFreq: Option[Long], materialize: Boolean): DataFrame = {
    val p = capHotKeys(shared(p0.repartition(col("p")), materialize),
      "p", count(lit(1)), maxDocFreq)
    p.as("a").join(p.as("b"),
        col("a.p") === col("b.p") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Aligned shared passages between document pairs — the
    * exact-substring-dedup family (Lee et al. 2021 find verbatim
    * repeated passages in training corpora; same goal, expressed in
    * winnowing prints with positions): for each doc pair and each
    * alignment DIAGONAL (pos_a − pos_b), the count of shared winnow
    * prints on that diagonal and the covered character span in both
    * docs. A verbatim passage copied between two docs puts many prints
    * on ONE diagonal (their positions shift by a constant); incidental
    * shared phrases scatter across diagonals — grouping by diagonal
    * separates true passage reuse from noise, and the span bounds say
    * WHERE the copy sits in each doc (provenance, not just detection).
    *
    * Scale: identical shape to [[winnowPairs]] — positional prints are
    * ~|text|/window per doc, the equi-join is hash-partitioned on the
    * print with the hot-print df cap (broadcast anti-join), and the
    * diagonal key is a projection of the join output feeding one
    * aggregation: no extra shuffle beyond winnowPairs. */
  def sharedPassages(docs: DataFrame, minPrints: Long, k: Int = 8, window: Int = 4,
                     textCol: String = "text", idCol: String = "doc_id",
                     maxDocFreq: Option[Long] = None,
                     materialize: Boolean = true): DataFrame = {
    val p0 = spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), Text.normalize(col("__text")).as("__t"))
      .select(col("id"), Text.kgramHashes(col("__t"), k).as("__hs"))
      .select(col("id"), Text.posIndexed(col("__hs")).as("__hsp"))
      .select(col("id"), explode(Text.winnowMinsPos(col("__hsp"), window)).as("s"))
      .select(col("id"), col("s.pos").as("pos"), col("s.h").as("p"))
      .distinct()
    // distinct DOCS per print (a print repeated inside one doc is
    // not corpus-wide boilerplate)
    val pp = capHotKeys(shared(p0.repartition(col("p")), materialize),
      "p", countDistinct("id"), maxDocFreq)
    pp.as("a").join(pp.as("b"),
        col("a.p") === col("b.p") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (col("a.pos") - col("b.pos")).as("d"))
      .agg(count(lit(1)).as("prints"),
        min(col("a.pos")).as("a_start"),
        (max(col("a.pos")) + lit(k - 1)).as("a_end"))
      .filter(col("prints") >= minPrints)
      .select(col("id_a"), col("id_b"), col("prints"),
        col("a_start"), col("a_end"),
        (col("a_start") - col("d")).as("b_start"),
        (col("a_end") - col("d")).as("b_end"))
  }

  /** (id, pos, h): 60-bit key ([[Text.shingleKey]] over the
    * space-joined k-token window) of each token k-gram, one row per
    * token position. The key replaces the r16-era 32-char md5 STRING
    * (r17): this is the family's token-count-linear exchange — its row
    * shrinks ~60 → ~28 B, and the persisted [[BloomDedup.corpusGrams]]
    * table goes ~33 → ~8 B per distinct gram. Every consumer (the
    * frequency agg, the corpus semi-join, the bloom probe) needs only
    * gram EQUALITY, which the key preserves (collision bound: see
    * [[Text.shingleKey]]); the gates' DuckDB oracles keep hashing to
    * md5 strings — `h` is internal to both plans, and equality
    * semantics are identical, so no oracle lockstep is needed (unlike
    * the minhash permutation input, whose VALUE feeds signatures).
    * Each stage is its own projection so the transform lambda captures
    * only attributes (the per-element re-evaluation gotcha — see
    * [[Text.shinglesOf]]). */
  private[operators] def tokenGrams(docs: DataFrame, k: Int,
                                    textCol: String, idCol: String): DataFrame =
    spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), Text.tokens(col("__text")).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - k),
          i => Text.shingleKey(concat_ws(" ", slice(col("__toks"), i + lit(1), lit(k)))))))
      .select(col("id"), col("pos"), col("col").as("h"))

  /** Corpus-wide EXACT duplicate spans — the per-document half of the
    * exact-substring-dedup family (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": ExactSubstr finds
    * every substring of ≥ L tokens occurring verbatim more than once
    * in the corpus). [[sharedPassages]] answers "which doc PAIRS share
    * a passage"; this answers "which token RANGES of each doc are
    * duplicated anywhere" — the form needed to CUT spans out (the Lee
    * et al. remediation) rather than drop or pair whole documents.
    *
    * Semantics: token k-grams hashed with md5 (oracle-computable); a
    * gram is duplicated iff it occurs in ≥ 2 distinct docs (default
    * `crossDocOnly` — intra-doc repetition is a quality signal, see
    * [[Text.topFraction]]) or ≥ 2 times anywhere when false (Lee et
    * al.'s exact rule). Maximal runs of ≥ `minRun` consecutive
    * duplicated grams become spans; a run of r grams covers r + k − 1
    * tokens, so the effective span threshold is `minRun + k − 1`
    * tokens (the paper's 50-token rule ≙ e.g. k=25, minRun=26).
    *
    * Output: (idCol, start_tok, end_tok, n_grams), inclusive token
    * indices, spans disjoint and maximal per doc.
    *
    * Scale: the one operator in the family whose state is linear in
    * the TOKEN count, not the doc count — the same price Lee et al.
    * pay for their corpus-wide suffix array, here as two
    * hash-partitioned shuffles that cannot skew: the gram stream
    * shuffled ONCE on the hash (materialized; the frequency agg —
    * partial-aggregated expand on (h, id) — and the semi-join probe
    * both reuse that layout exchange-free, and the join's build side
    * is unique per h, so a boilerplate gram repeated a million times
    * probes ONE build row — no quadratic output, the failure mode that
    * rules out the pairwise operators for boilerplate at 100 TB), and
    * the per-doc window for run detection (state = one doc's
    * duplicated positions). Doc pairs never meet: a passage shared by
    * 10k docs costs 10k rows, not 10k². */
  def duplicateSpans(docs: DataFrame, k: Int = 5, minRun: Int = 4,
                     textCol: String = "text", idCol: String = "doc_id",
                     crossDocOnly: Boolean = true,
                     materialize: Boolean = true): DataFrame = {
    // the gram stream (per-position md5 — the expensive map work) feeds
    // both the frequency agg and the semi-join probe: materialize it
    // ONCE, partitioned by the hash so the agg and the join both reuse
    // the layout with zero further exchanges (the winnowJoin idiom)
    val grams = shared(
      tokenGrams(docs, k, textCol, idCol).repartition(col("h")), materialize)
    val dupHashes = (
      if (crossDocOnly) grams.groupBy("h").agg(countDistinct("id").as("n"))
      else grams.groupBy("h").agg(count(lit(1)).as("n"))
      ).filter(col("n") >= 2).select("h")
    val dup = grams.join(dupHashes, Seq("h"), "left_semi")
    spansFromDupGrams(dup, k, minRun, idCol)
  }

  /** Duplicated gram positions (id, pos) → maximal runs of ≥ `minRun`
    * consecutive positions as inclusive token spans. Gaps-and-islands:
    * consecutive positions share (pos − row_number) — one keyed
    * window, no self-join; state = one doc's duplicated positions. */
  private[operators] def spansFromDupGrams(dup: DataFrame, k: Int, minRun: Int,
                                           idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy("pos")
    dup
      .select(col("id"), col("pos"),
        (col("pos") - row_number().over(w)).as("__grp"))
      .groupBy("id", "__grp")
      .agg(min("pos").as("start_tok"),
        (max(col("pos")) + lit(k - 1)).as("end_tok"),
        count(lit(1)).as("n_grams"))
      .filter(col("n_grams") >= minRun)
      .select(col("id").as(idCol),
        col("start_tok"), col("end_tok"), col("n_grams"))
  }

  /** Cut token spans out of docs: `spans` is any (idCol, start_tok,
    * end_tok) frame ([[duplicateSpans]], [[BloomDedup.incrementalSpans]],
    * or hand-curated ranges); tokens covered by a span are removed and
    * the survivors re-joined. Output: (idCol, text, n_kept, n_toks).
    *
    * Scale: spans-per-doc is a short list, so it rides a 1:1 equi-join
    * back onto the docs and the cut is one higher-order filter over
    * the token array — no token-level explosion or extra shuffle. */
  def cutSpans(docs: DataFrame, spans: DataFrame,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val perDoc = spans.groupBy(idCol)
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("__spans"))
    docs
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), Text.tokens(col(textCol)).as("__toks"),
        col("__spans"))
      // exists() over a NULL span list is NULL; coalesce to false so
      // docs with no duplicated spans keep every token (a NULL filter
      // predicate would silently DROP them)
      .select(col(idCol),
        filter(col("__toks"), (_, i) =>
          not(coalesce(exists(col("__spans"), s =>
            i.between(s("start_tok"), s("end_tok"))), lit(false)))).as("__kept"),
        size(col("__toks")).cast("long").as("n_toks"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as(textCol),
        size(col("__kept")).cast("long").as("n_kept"),
        col("n_toks"))
  }

  /** Cut every duplicated span found by [[duplicateSpans]] out of the
    * corpus — keep the documents, remove the verbatim-repeated token
    * ranges (Lee et al. 2021's ExactSubstr remediation). Output:
    * (idCol, text [surviving tokens re-joined], n_kept, n_toks); a
    * fully-duplicated doc survives with empty text so downstream
    * length filters see it, mirroring [[dedupLines]]. Composition of
    * [[duplicateSpans]] and [[cutSpans]]. */
  def removeDuplicateSpans(docs: DataFrame, k: Int = 5, minRun: Int = 4,
                           textCol: String = "text", idCol: String = "doc_id",
                           crossDocOnly: Boolean = true,
                           materialize: Boolean = true): DataFrame =
    cutSpans(docs,
      duplicateSpans(docs, k, minRun, textCol, idCol, crossDocOnly, materialize),
      textCol, idCol)

  /** 32-bit SimHash per document: per-token md5 → first 8 hex chars as a
    * 32-bit hash; each bit votes ±1 weighted by token frequency; the
    * signature sets bits with positive vote.
    *
    * Scale: the 32 bit-votes are 32 aggregate COLUMNS over the token
    * stream (one keyed agg, no tokens×32 row explosion) — agg state is
    * 32 longs per doc; the signature assembles from the votes in a
    * single projection. The oracle computes the identical math in its
    * exploded formulation. */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(Text.tokens(col(textCol))).as("t"))
    val hashed = tok.select(col("id"),
      Text.md5Prefix(col("t"), 8).as("h"))
    val votes = (0 until 32).map(b =>
      sum(expr(s"(shiftright(h, $b) & 1) * 2 - 1")).as(s"v$b"))
    hashed.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 32).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist. Scale note:
    * all-pairs hamming is quadratic; production path is banding the
    * 32-bit signature into 4 bytes and bucket-joining on each byte
    * (Manku et al., WWW'07) — see simhashBandedPairs, which is complete
    * only for maxDist < 4 (pigeonhole over 4 bands). */
  def simhashPairs(sig: DataFrame, maxDist: Int): DataFrame =
    sig.as("a").join(sig.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)

  /** Scale path for simhash pair generation: byte-band the signature; a
    * pair within hamming ≤ maxDist < 4 of a 32-bit hash must agree on
    * ≥1 of the 4 bytes (pigeonhole: 3 diffs cannot touch 4 bands) —
    * bucket-join per byte, then verify. Requires maxDist ≤ 3 for
    * completeness. */
  def simhashBandedPairs(sig: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist < 4, "byte-banding a 32-bit simhash is complete only for maxDist < 4")
    def byteOf(c: Column, b: Int): Column =
      shiftright(c, b * 8).bitwiseAND(0xff)
    val banded = sig.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          byteOf(col("simhash"), b).as("byte"))): _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band"), col("bb.byte"))
    // exactly-once BY CONSTRUCTION (the hammingBandedPairs rule): a
    // pair agreeing in k of the 4 bytes would surface k times from the
    // bucket join and pre-r13 was deduped with a `.distinct()` — a
    // shuffle over the PAIR stream, the operator's largest
    // intermediate (7.6M rows on the 10× soak). Both sides carry the
    // full signature, so "no EARLIER band matches" is four static
    // byte comparisons — zero carried payload, pure codegen, and the
    // kept row is exactly the first matching band's.
    val noEarlierMatch = (0 until 4).map { j =>
      lit(j) >= col("a.band") ||
        byteOf(col("a.simhash"), j) =!= byteOf(col("b.simhash"), j)
    }.reduce(_ && _)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.byte") === col("b.byte") &&
          col("a.id") < col("b.id") && noEarlierMatch)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }
}
