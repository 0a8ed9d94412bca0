package graft.operators

import graft.expressions.GraftFunctions
import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Incremental (batch-vs-corpus) deduplication — the realistic
  * operating mode of a 100 TB pipeline: TODAY's crawl is deduplicated
  * against the standing corpus without ever re-shuffling the corpus.
  * (Whole-corpus operators like [[Dedup.exact]] re-shuffle everything
  * each run; reference behavior covers only the batch world, e.g. the
  * fold/hash pipelines of `pipeline.go` — this is the beyond-reference
  * scale path.)
  *
  * Design: a broadcast Bloom-filter PREFILTER in front of the exact
  * resolve join, built with Spark's own native expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the codegen'd
  * machinery behind AQE runtime filters, here made explicit because the
  * planner cannot know our false-positive contract):
  *
  *   - corpus side: ONE aggregation over corpus fingerprints produces a
  *     serialized filter (driver holds one byte array, ~1.2 MB per 10^6
  *     docs at the default 8 bits/item ≈ 2% fpp);
  *   - batch side: `might_contain` is a map-side, codegen'd filter. A
  *     miss is DEFINITELY novel (Bloom filters have no false
  *     negatives) — those rows take the fast path: no join, no shuffle,
  *     no corpus access at all;
  *   - only the "maybe duplicate" sliver (true dups + ~2% false
  *     positives) reaches the exact fingerprint join that resolves the
  *     canonical corpus doc — so the shuffled volume is proportional to
  *     the DUPLICATE rate, not the batch size.
  *
  * At 10^9 corpus docs the filter is ~1 GB — still a broadcast (large
  * executors hold it once), but size the build with `expectedItems`
  * and raise `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
  * `maxNumBits` accordingly; beyond that, shard the corpus and union
  * per-shard prefilters.
  */
object BloomDedup {

  /** Batch rows labeled with the canonical corpus duplicate:
    * (id, fp, dup_of) where dup_of is the minimum corpus id sharing the
    * exact normalized-text fingerprint, or NULL for novel docs.
    *
    * `expectedItems` sizes the Bloom filter (8 bits/item); it is an
    * ESTIMATE of distinct corpus fingerprints — undersizing only raises
    * the false-positive rate (more rows take the exact join), never
    * correctness.
    *
    * Cost note: the two union branches each scan the batch input (one
    * columnar scan + codegen'd probe per branch) — two map-side passes
    * over the (daily-sized) batch in exchange for never shuffling it;
    * the corpus is read once, for the fingerprint agg + bloom build.
    */
  def incrementalExact(batch: DataFrame, corpus: DataFrame,
                       textCol: String = "text", idCol: String = "doc_id",
                       expectedItems: Long = 1L << 20): DataFrame = {
    val corpusFp = corpusFingerprints(corpus, textCol, idCol)
    incrementalExactPrebuilt(batch, corpusFp,
      buildFilter(corpusFp, expectedItems), textCol, idCol)
  }

  /** The corpus fingerprint map (fp → canonical min id) that the
    * resolve join probes. In steady state, persist this as a table and
    * refresh it on corpus compaction instead of recomputing per run. */
  def corpusFingerprints(corpus: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame =
    corpus.select(Text.fingerprint(col(textCol)).as("fp"), col(idCol).as("__cid"))
      .groupBy("fp").agg(min("__cid").as("dup_of"))

  /** Serialized Bloom filter over a `fp` column — ONE job (partial
    * filters OR-merge on the exchange); None for an empty input. Pair
    * with [[saveFilter]]/[[loadFilter]] to build once per corpus
    * compaction and reuse across every batch run and stream. */
  def buildFilter(fps: DataFrame, expectedItems: Long = 1L << 20,
                  hashCol: String = "fp"): Option[Array[Byte]] = {
    GraftFunctions.register(fps.sparkSession)
    val row = fps.agg(call_function("graft_bloom_agg",
      xxhash64(col(hashCol)), lit(expectedItems)).as("bf")).head()
    if (row.isNullAt(0)) None else Some(row.getAs[Array[Byte]](0))
  }

  /** Persist filter bytes through the path's Hadoop FileSystem, so an
    * index on hdfs://, s3a:// or a local path takes the same route. */
  def saveFilter(spark: SparkSession, bytes: Array[Byte], path: String): Unit = {
    val (f, p) = IndexGen.fs(spark, path)
    IndexGen.writeBytes(f, p, bytes)
  }

  /** Filter bytes saved by [[saveFilter]]; None when the file is absent
    * ([[buildFilter]] writes no filter for an empty input). */
  def loadFilter(spark: SparkSession, path: String): Option[Array[Byte]] = {
    val (f, p) = IndexGen.fs(spark, path)
    IndexGen.readBytes(f, p)
  }

  /** [[incrementalExact]] against a PREBUILT fingerprint map + filter —
    * the steady-state entry point: no corpus job at all, the plan is
    * batch-scan-only until the maybe-dup resolve join. */
  def incrementalExactPrebuilt(batch: DataFrame, corpusFp: DataFrame,
                               filter: Option[Array[Byte]],
                               textCol: String = "text",
                               idCol: String = "doc_id"): DataFrame = {
    GraftFunctions.register(batch.sparkSession)
    val idType = corpusFp.schema("dup_of").dataType
    val b = batch.select(col(idCol).as("id"),
      Text.fingerprint(col(textCol)).as("fp"))
    filter match {
      case None =>
        // empty corpus: everything is novel, no filter to probe
        b.withColumn("dup_of", lit(null).cast(idType))
      case Some(bytes) =>
        val maybe = call_function("graft_might_contain",
          lit(bytes), xxhash64(col("fp")))
        // definite-novel fast path: map-side only (the common case when
        // most of a crawl is new — these rows never reach an exchange)
        val novel = b.filter(!maybe).withColumn("dup_of", lit(null).cast(idType))
        // maybe-dup sliver: exact resolve (kills bloom false positives)
        val checked = b.filter(maybe)
          .join(corpusFp, Seq("fp"), "left")
          .select(col("id"), col("fp"), col("dup_of"))
        novel.select("id", "fp", "dup_of").union(checked)
    }
  }

  /** Streaming twin of [[incrementalExact]]: label an UNBOUNDED stream
    * of documents against a static corpus — same plan, which is
    * append-mode streaming-safe end to end: the broadcast bloom probe
    * is a map-side filter inside each micro-batch (definite-novels
    * never join), and the maybe-dup sliver takes a STREAM-STATIC left
    * join (no streaming state, no watermark — the corpus side is
    * static). The corpus-side bloom build runs once, at plan
    * construction. Complements
    * [[graft.streaming.Streams.dedupExact]], which dedups a stream
    * against ITSELF within a watermark horizon; composing both gives
    * "new vs corpus" + "new vs new" ingest dedup with bounded state. */
  def streamIncrementalExact(stream: DataFrame, corpus: DataFrame,
                             textCol: String = "text", idCol: String = "doc_id",
                             expectedItems: Long = 1L << 20): DataFrame =
    incrementalExact(stream, corpus, textCol, idCol, expectedItems)

  /** The reusable LSH index of one document set: the distinct shingle
    * long form (feeds the exact-jaccard verify), the banded minhash
    * signatures (feed candidate generation), and — optionally — the
    * per-doc shingle-set sizes. In steady state, persist ALL THREE as
    * tables (ideally bucketed by `sh` / by (band, sig) / by `id`) on
    * corpus compaction and pass them to [[incrementalLshPrebuilt]] —
    * the per-run cost is then the BATCH side only. `sizes` matters at
    * scale: without it the jaccard denominator re-aggregates the WHOLE
    * corpus shingle long form (a corpus-scale groupBy) on every batch;
    * with it the per-batch corpus cost is reads only. */
  final case class LshIndex(shingles: DataFrame, bands: DataFrame,
                            sizes: Option[DataFrame] = None) {
    /** (id, n) set sizes: the precomputed table when present, else
      * derived from the shingle long form. */
    def sizesOf: DataFrame = sizes.getOrElse(
      shingles.groupBy("id").agg(count(lit(1)).as("n")))
  }

  /** Build the [[LshIndex]] of a document set (see [[incrementalLsh]]
    * for the banding scheme). */
  def lshIndex(docs: DataFrame, perms: Int = 16, bands: Int = 4, n: Int = 3,
               textCol: String = "text", idCol: String = "doc_id",
               materialize: Boolean = true): LshIndex = {
    require(perms % bands == 0, "perms must divide into bands")
    val rows = perms / bands
    // the shingle set feeds the signatures, the set sizes AND the
    // jaccard-verify join: one lazy partitioned checkpoint (same
    // reuse-without-leak scheme as Dedup.minhashLsh; see Dedup.shared
    // for the executor-loss caveat)
    val s = Dedup.shared(
      Dedup.shingleSet(docs, textCol, idCol, n).repartition(col("sh")), materialize)
    val sig = Dedup.signaturesFrom(s, perms)
    val bandCols = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        md5(concat_ws("|", (0 until rows).map(r =>
          col(s"h${bnd * rows + r}").cast("string")): _*)).as("sig"))
    }
    val banded = sig.select(col("id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // sizes derive from the same checkpointed blocks — sharing them here
    // costs nothing in-memory and lets compaction persist the table
    LshIndex(s, banded, Some(s.groupBy("id").agg(count(lit(1)).as("n"))))
  }

  /** The persisted-index seam of [[incrementalLshPrebuilt]] and
    * [[incrementalSpans]]: since r17 shingle and gram keys are 60-bit
    * [[graft.functions.Text.shingleKey]] values (LongType). A pre-r17
    * table (raw n-gram or md5 strings) joined against them would cast
    * the strings to bigint → null → zero matches, silently — refuse it
    * with a rebuild instruction instead. */
  private def requireKeyed(df: DataFrame, keyCol: String, what: String,
                           rebuild: String): Unit = {
    val t = df.schema(keyCol).dataType
    require(t == LongType,
      s"$what carries $t keys — a pre-r17 persisted table (strings). " +
        "Keyed (LongType) and string keys never match (silent empty " +
        s"result); rebuild it from text with $rebuild.")
  }

  /** Incremental NEAR-dup: batch docs whose n-gram Jaccard similarity
    * with some corpus doc meets `threshold`, found via MinHash+LSH
    * band buckets ACROSS the two sets (corpus signatures join batch
    * signatures — never corpus×corpus, never batch×batch).
    *
    * Scale shape: both sides reduce to (id, band, sig) band buckets —
    * the join key is the banded signature, so the shuffle carries
    * `bands` rows per doc, not shingles; candidates are verified with
    * exact Jaccard over the two shingle sets (same verify as
    * [[Dedup.minhashLsh]], restricted to candidate pairs). In steady
    * state the corpus band buckets are precomputed once and persist as
    * a bucketed table — only the batch side is computed per run.
    *
    * Returns (id, dup_of, jaccard): one row per (batch doc, corpus doc)
    * near-dup pair at or above the threshold.
    */
  def incrementalLsh(batch: DataFrame, corpus: DataFrame, threshold: Double,
                     perms: Int = 16, bands: Int = 4, n: Int = 3,
                     textCol: String = "text", idCol: String = "doc_id",
                     materialize: Boolean = true): DataFrame =
    incrementalLshPrebuilt(
      lshIndex(batch, perms, bands, n, textCol, idCol, materialize),
      lshIndex(corpus, perms, bands, n, textCol, idCol, materialize),
      threshold)

  /** [[incrementalLsh]] against PREBUILT indexes — the steady-state
    * entry point (corpus side loaded from its persisted tables). Both
    * indexes must share the same (perms, bands, n) scheme — AND the
    * same shingle-key scheme (see [[requireKeyed]]). */
  def incrementalLshPrebuilt(batchIdx: LshIndex, corpusIdx: LshIndex,
                             threshold: Double): DataFrame = {
    val (bs, bband) = (batchIdx.shingles, batchIdx.bands)
    val (cs, cband) = (corpusIdx.shingles, corpusIdx.bands)
    Seq("batch" -> bs, "corpus" -> cs).foreach { case (side, s) =>
      requireKeyed(s, "sh", s"$side LSH index", "lshIndex()")
    }
    val cand = bband.as("a").join(cband.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.id").as("id"), col("b.id").as("dup_of")).distinct()
    // set sizes from the index (precomputed table in steady state — the
    // corpus long form is NOT re-aggregated per batch)
    val bSizes = batchIdx.sizesOf
      .select(col("id").as("__bsid"), col("n").as("bn"))
    val cSizes = corpusIdx.sizesOf
      .select(col("id").as("__csid"), col("n").as("cn"))
    val inter = cand.as("c")
      .join(bs.as("sa"), col("c.id") === col("sa.id"))
      .join(cs.as("sb"), col("c.dup_of") === col("sb.id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("c.id"), col("c.dup_of")).agg(count(lit(1)).as("i"))
    inter
      .join(bSizes, col("id") === col("__bsid"))
      .join(cSizes, col("dup_of") === col("__csid"))
      .select(col("id"), col("dup_of"),
        round(col("i") / (col("bn") + col("cn") - col("i")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The corpus's distinct line-hash table (lh = md5 of the exact line
    * content) — the persisted artifact of incremental LINE dedup, the
    * fourth member of the prebuilt-index family (fp map, LSH index,
    * set sizes, line hashes). Empty lines (paragraph breaks) are
    * structure, not content, and are excluded — see
    * [[Dedup.dedupLines]]. In steady state write it bucketed by `lh`
    * so the corpus side of every per-batch anti-join is exchange-free,
    * and refresh on corpus compaction. */
  def corpusLineHashes(corpus: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id",
                       sep: String = "\n"): DataFrame =
    Dedup.splitLines(corpus, textCol, idCol, sep)
      .where(col("line") =!= "")
      .select(md5(col("line")).as("lh")).distinct()

  /** Incremental corpus-wide line dedup (the CCNet production shape:
    * a new crawl's lines are dropped when the CORPUS already contains
    * them, then keep-first deduped within the batch itself).
    *
    * A batch line survives iff (a) its md5 is NOT in `corpusLines` —
    * checked via an optional broadcast Bloom prefilter (built from the
    * `lh` column by [[buildFilter]]) so definite-novel lines never
    * reach the anti-join, the [[incrementalExactPrebuilt]] design —
    * and (b) it is the batch-first occurrence of its content by
    * (`idCol`, position). Empty lines are structural and always
    * survive (see [[Dedup.dedupLines]]). Reassembly preserves order;
    * fully-dropped docs stay with empty text. Output:
    * (id, text, n_kept, n_lines).
    *
    * Scale: the corpus table is probed, never scanned into a shuffle
    * (bloom prefilter + anti-join against the bucketed lh table);
    * within-batch keep-first shuffles only batch lines. */
  def incrementalLineDedup(batch: DataFrame, corpusLines: DataFrame,
                           filter: Option[Array[Byte]] = None,
                           textCol: String = "text",
                           idCol: String = "doc_id",
                           sep: String = "\n"): DataFrame = {
    GraftFunctions.register(batch.sparkSession)
    val all = Dedup.splitLines(batch, textCol, idCol, sep)
    val lines = all.where(col("line") =!= "").withColumn("lh", md5(col("line")))
    val novel = filter match {
      case None => lines.join(corpusLines, Seq("lh"), "left_anti")
      case Some(bytes) =>
        val maybe = call_function("graft_might_contain",
          lit(bytes), xxhash64(col("lh")))
        // definite-novel fast path: map-side only; the maybe sliver
        // resolves exactly against the corpus table (no false drops)
        lines.filter(!maybe)
          .unionByName(lines.filter(maybe).join(corpusLines, Seq("lh"), "left_anti"))
    }
    val firsts = novel.groupBy("line")
      .agg(min(struct(col(idCol), col("pos"))).as("first"))
      .select(col("line"), col(s"first.$idCol").as(idCol), col("first.pos").as("pos"))
    val kept = novel.join(firsts, Seq("line", idCol, "pos"))
      .select(col(idCol), col("pos"), col("line"))
      .unionByName(all.where(col("line") === "")
        .select(col(idCol), col("pos"), col("line")))
    Dedup.reassembleLines(kept, batch, textCol, idCol, sep)
  }

  /** Persistable corpus gram-hash table for incremental
    * exact-substring span dedup ([[incrementalSpans]]) — the fifth
    * member of the prebuilt-index family ([[corpusFingerprints]],
    * [[lshIndex]], [[corpusLineHashes]], [[graft.operators.AnnIndex]]):
    * the DISTINCT 60-bit token k-gram keys of the standing corpus
    * ([[graft.functions.Text.shingleKey]] over each k-token window —
    * LongType since r17; pre-r17 tables carried 32-char md5 strings).
    * Write it partitioned/bucketed by `h` once per corpus compaction;
    * ~8 B per distinct gram. */
  def corpusGrams(corpus: DataFrame, k: Int = 5, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    Dedup.tokenGrams(corpus, k, textCol, idCol).select("h").distinct()

  /** Incremental ExactSubstr (Lee et al. 2021) — token spans of BATCH
    * docs duplicating content that exists anywhere else: in the
    * standing corpus ([[corpusGrams]]) or in ANOTHER batch doc. By
    * construction this equals [[Dedup.duplicateSpans]] over
    * corpus ∪ batch restricted to batch docs (a spec asserts the
    * equivalence), without ever re-scanning the corpus text: the
    * corpus side is the probed gram table, optionally fronted by a
    * broadcast Bloom prefilter (built from the `h` column via
    * [[buildFilter]]) so definite-novel grams never reach the
    * semi-join — map-side only, the [[incrementalExactPrebuilt]]
    * design. Cut the spans with [[Dedup.cutSpans]].
    *
    * Scale: batch grams shuffle once on the hash (shared
    * materialization feeds the corpus probe AND the in-batch
    * frequency agg); the corpus gram table is probed, never scanned
    * into a shuffle wider than the batch's maybe-dup sliver. */
  def incrementalSpans(batch: DataFrame, corpusGrams: DataFrame,
                       filter: Option[Array[Byte]] = None,
                       k: Int = 5, minRun: Int = 4,
                       textCol: String = "text", idCol: String = "doc_id",
                       materialize: Boolean = true): DataFrame = {
    requireKeyed(corpusGrams, "h", "corpus gram table", "corpusGrams()")
    GraftFunctions.register(batch.sparkSession)
    val grams = Dedup.shared(
      Dedup.tokenGrams(batch, k, textCol, idCol).repartition(col("h")),
      materialize)
    val inCorpus = filter match {
      case None => grams.join(corpusGrams, Seq("h"), "left_semi")
      case Some(bytes) =>
        grams.filter(call_function("graft_might_contain",
            lit(bytes), xxhash64(col("h"))))
          .join(corpusGrams, Seq("h"), "left_semi")
    }
    val inBatch = grams.join(
      grams.groupBy("h").agg(countDistinct("id").as("n"))
        .filter(col("n") >= 2).select("h"),
      Seq("h"), "left_semi")
    // a gram can be duplicated BOTH ways — distinct before run
    // detection or the island walk would double-count positions
    val dup = inCorpus.unionByName(inBatch).distinct()
    Dedup.spansFromDupGrams(dup, k, minRun, idCol)
  }
}
