package graft.queries

import graft.core.Tables
import graft.functions.Text
import graft.operators.{AnnIndex, Dedup, MultiModal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the documents/embeddings
  * tables (north star: dedup, similarity search, text analysis,
  * multimodal at 100 TB).
  */
object LlmOps {

  /** Token counting (whitespace tokenizer). */
  def tTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: alphabetic density, punctuation noise, length. */
  def tQuality(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        Text.alphaRatio(col("text")).as("alpha_ratio"),
        Text.punctCount(col("text")).cast("long").as("n_punct"),
        Text.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Language ID via stopword-hit heuristic. Staged: the lowercased
    * token array materializes ONCE as its own projection column; the
    * four stopword ratios (en_ratio + the three inside langIdOf) are
    * filter passes over that array attribute — the raw-text convenience
    * forms would re-run the regex tokenization per ratio (see
    * Text.bigramsOf scale note). */
  def tLangId(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), Text.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        Text.enStopRatioOf(col("toks")).as("en_ratio"),
        Text.langIdOf(col("toks")).as("pred_lang"))
      .orderBy("doc_id")

  /** Repetition quality signals (Gopher/C4 family): top-token and
    * top-bigram occupancy per doc. Staged: the token array (and the
    * bigram array derived from it) materialize as their own projection
    * columns so each regex split runs ONCE per row; the occupancy is
    * then a sort + longest-run pass over the array attribute (see
    * Text.bigramsOf scale note — inlining the split into the lambda
    * would re-tokenize per element). */
  def tRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), Text.bigramsOf(col("toks")).as("bgs"))
      .select(col("doc_id"),
        Text.topFraction(col("toks")).as("top_token_frac"),
        Text.topFraction(col("bgs")).as("top_bigram_frac"))
      .orderBy("doc_id")

  /** CCNet perplexity buckets: head/middle/tail per language by the
    * unigram-LM score, cutoffs estimated on a deterministic 20%
    * hash-sample per language (the sample-then-assign design that
    * avoids a per-language global sort). */
  def tPplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    TextStats.perplexityBuckets(Tables(spark, dir).documents)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Steady-state perplexity bucketing: the corpus slice (bucket < 95)
    * builds a persistable LM vocab + per-language cutoffs ONCE; the
    * batch slice (≥ 95) is scored against that LM (Laplace-smoothed —
    * OOV batch tokens get a finite penalty) and bucketed against the
    * prebuilt cutoffs, never touching the corpus again. */
  def tPplIncr(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Sampling, Stage, TextStats}
    val docs = Tables(spark, dir).documents
    val bucket = Sampling.hashBucket(col("doc_id"))
    val corpus = docs.filter(bucket < 95)
    val batch = docs.filter(bucket >= 95)
    // the LM vocab feeds corpus-side cutoff scoring AND batch scoring
    val lm = Stage.reuse(TextStats.corpusLm(corpus))
    def scored(side: DataFrame) =
      TextStats.unigramLogProbAgainst(side, lm)
        .join(side.select(col("doc_id").as("id"), col("lang")), "id")
        .select(col("id"), col("lang"), col("mean_nll"))
    val cuts = TextStats.pplCutoffs(scored(corpus))
    TextStats.assignPplBuckets(scored(batch), cuts)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** BM25 top-10 for a fixed bag-of-words query over the corpus — the
    * lexical retrieval primitive (Okapi ranking, Robertson idf). */
  def tBm25(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    TextStats.bm25TopK(Tables(spark, dir).documents,
        queryTerms = Seq("vector", "stream", "merge"), k = 10)
      .orderBy("rnk")
  }

  /** Hybrid retrieval: RRF fusion of the BM25 lexical leg (same fixed
    * query as t_bm25, top-50) and a vector leg (brute-force cosine
    * top-50 for query vec 0) — documents and embeddings share the
    * 0..N-1 id space, so the two legs rank the same corpus. */
  def sRrf(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Retrieval, Similarity, TextStats}
    val t = Tables(spark, dir)
    val lex = TextStats.bm25TopK(t.documents,
        queryTerms = Seq("vector", "stream", "merge"), k = 50)
      .select(col("id"), col("rnk"))
    val e = t.embeddings
    val vec = Similarity.bruteForceTopK(e.filter(col("vec_id") === 0), e, k = 50)
      .select(col("cand_id").as("id"), col("rnk"))
    Retrieval.rrfFuse(Seq(lex, vec), k = 10).orderBy("rnk")
  }

  /** Interpolated trigram LM score — rung 3 of the CCNet perplexity
    * ladder (λ3=0.5 trigram MLE + λ2=0.3 bigram MLE + 0.2 Laplace
    * unigram, double-BOS context). */
  def tTrigramLm(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    TextStats.trigramLogProb(Tables(spark, dir).documents).orderBy("id")
  }

  /** Embedding-space audit: cosine of every vector to its own label's
    * fixed-point centroid, outliers flagged below 0 — the
    * distance-to-centroid prune of SemDeDup-style curation. */
  def sCentroid(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    Similarity.centroidOutliers(Tables(spark, dir).embeddings, threshold = 0.0)
      .orderBy("id")
  }

  /** Gopher duplicate-trigram token fraction: share of each doc's
    * tokens covered by a within-doc repeated trigram — the templated-
    * text signal complementary to t_repetition's top-fraction. */
  def tDupGrams(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    TextStats.dupNgramFraction(Tables(spark, dir).documents, n = 3)
      .orderBy("id")
  }

  /** Steady-state bigram LM scoring: the 95% corpus slice builds the
    * persisted unigram + bigram tables once; the 5% batch is scored
    * against them with zero corpus scans — unseen bigrams fall to the
    * Laplace unigram back-off. */
  def tBigramIncr(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Sampling, TextStats}
    val docs = Tables(spark, dir).documents
    val bucket = Sampling.hashBucket(col("doc_id"))
    val corpus = docs.filter(bucket < 95)
    val batch = docs.filter(bucket >= 95)
    TextStats.bigramLogProbAgainst(batch,
        TextStats.corpusLm(corpus), TextStats.corpusBigramLm(corpus))
      .orderBy("id")
  }

  /** Gopher/C4 rule filter with per-rule attribution: keep flag + the
    * first failing rule name, one codegen'd scan. Thresholds tightened
    * to the synthetic corpus's ranges so EVERY rule branch fires at
    * gate scale (max doc ≈ 99 tokens, alpha median ≈ 0.822). */
  def tRuleFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    Curation.ruleFilter(Tables(spark, dir).documents,
        maxTokens = 90, minAlpha = 0.82).orderBy("doc_id")
  }

  /** Corpus-wide most-frequent word trigrams (the C4/Gopher "top
    * duplicated n-grams" report): vocab-sized agg, TakeOrdered top-20,
    * driver-tiny rank window. */
  def tNgramFreq(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(Text.ngramsOf(col("toks"), 3)).as("ng"))
      .groupBy("ng")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("ng")).limit(20)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("tf").desc, col("ng"))).cast("long"))
      .select("rank", "ng", "tf", "df")

  /** Trained linear quality-classifier scoring (fastText shape): the
    * committed [[graft.functions.QualityModel]] weights applied as one
    * codegen'd fold per doc — the model-scoring step of a quality-
    * filtered corpus. Staged token array, score computed once. */
  def tQualityLr(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), Text.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), Text.classifierScoreOf(col("toks")).as("s"))
      .select(col("doc_id"),
        round(col("s"), 4).as("score"),
        (col("s") >= 0.5).cast("int").as("pred_en"))
      .orderBy("doc_id")

  /** PII redaction over text with synthesized email/phone spans (the
    * corpus has none, so the gate plants them deterministically and the
    * oracle plants the identical ones). */
  def tRedact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        Text.redactPii(concat(
          substring(col("text"), 1, 40),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call +1 555 123 "),
          (col("doc_id") % 10000).cast("string"))).as("clean"))
      .orderBy("doc_id")

  /** The full BPE surface in ONE gate (gate-corpus consolidation, r11
    * verdict item #5 — absorbed t_tokens_bpe2's columns): the BPE-ish
    * pre-tokenizer count (`n_bpe`) and whitespace count (`n_ws`), plus
    * REAL merge-table BPE (fixture model) — exact per-doc token count
    * (`n_tokens`) and an md5 over the chr(4)-joined token sequence
    * (`tok_md5`); the oracle recomputes the identical merges in DuckDB
    * (delimiter-wrapped symbols, one `replace` per rule in rank
    * order), so a single mis-merged token anywhere in the corpus
    * fails the hash. */
  def tTokensBpe(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        Text.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
        Text.tokenCount(col("text")).cast("long").as("n_ws"),
        Text.bpeTokens(col("text")).as("__toks"))
      .select(col("doc_id"), col("n_bpe"), col("n_ws"),
        size(col("__toks")).cast("long").as("n_tokens"),
        // chr(4)-JOINED, not plain concat: detokenize is identity, so a
        // separator-free concat would hash the original text back and
        // accept ANY token boundaries
        md5(concat_ws("\u0004", col("__toks"))).as("tok_md5"))
      .orderBy("doc_id")

  /** Deterministic hash-bucket sampling (reproducible 10% subsample
    * with its bucket, plus the split sizes as a sanity aggregate). */
  def tSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.sampleByHash(Tables(spark, dir).documents, "doc_id", keepPct = 10)
      .select(col("doc_id"),
        Sampling.hashBucket(col("doc_id")).as("bucket"))
      .orderBy("doc_id")
  }

  /** Int8 embedding quantization round-trip stats: per-vector absmax
    * scale, quantized sum/max (the 4×-compression storage path for
    * 100 TB embedding stores; staged columns — see Text.bigramsOf
    * lambda-inlining note). */
  def sQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("sc",
        greatest(array_max(transform(col("v"), abs _)), lit(1e-12)))
      .withColumn("q",
        transform(col("v"), x => round(x / col("sc") * 127, 0).cast("int")))
      .select(col("vec_id"), round(col("sc"), 6).as("scale"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_max(col("q")).as("q_max"))
      .orderBy("vec_id")

  /** GPT-style sequence packing assignment: documents in doc_id order
    * fill 2048-token training sequences; each doc gets its bin and its
    * offset within the bin (concatenate-then-chunk packing — the
    * standard pretraining shape).
    *
    * Scale: the global cumsum is a [[graft.operators.Prefix]] two-phase
    * distributed prefix (range-partitioned parallel sort + partition-
    * local windows + a P-row broadcast offset join) — NOT a
    * single-partition `Window.orderBy` funnel. Same math, every
    * partition stays parallel at 100 TB. */
  def tPack(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Prefix
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n"))
    Prefix.runningSum(toks, "doc_id", "n", "cum")
      .select(col("doc_id"), col("n").as("n_tokens"),
        floor((col("cum") - col("n")) / 2048L).as("bin"),
        ((col("cum") - col("n")) % 2048L).as("bin_offset"))
      .orderBy("doc_id")
  }

  /** Vocabulary building (tokenizer-training primitive): top-50 tokens
    * by corpus frequency with document frequency and rank. Scale: one
    * partial+final agg on the token, top-k via TakeOrdered. */
  def tVocab(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(50)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("tf").desc, col("tok"))).cast("long"))
      .select("rank", "tok", "tf", "df")

  /** Document fingerprinting (md5 of normalized text). */
  def tFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Exact dedup: canonical id per content-hash group. */
  def dExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables(spark, dir).documents).orderBy("doc_id")

  /** Corpus-wide line-level dedup (CCNet/RefinedWeb step): the synthetic
    * docs have no newlines, so the gate first forms pseudo-lines of 3
    * tokens (deterministic, recomputed identically by the oracle), then
    * drops every non-first occurrence of a line across the corpus plus
    * any line repeating more than 3 times (boilerplate). At sf0.01 this
    * rewrites ~25% of line occurrences — the branch is exercised. */
  def dLineDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupLines(pseudoLined(Tables(spark, dir).documents), maxFreq = 3)
      .orderBy("doc_id")

  /** The synthetic docs have no newlines: rebuild each as pseudo-lines
    * of 3 tokens (deterministic; the oracles recompute identically). */
  private[graft] def pseudoLined(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_join(
          transform(
            sequence(lit(0), greatest(floor((size(col("toks")) + lit(2)) / lit(3)).cast("int") - 1, lit(0))),
            i => array_join(slice(col("toks"), i * lit(3) + lit(1), lit(3)), " ")),
          "\n").as("text"))

  /** Incremental line dedup: the batch slice (hash bucket ≥ 95, the
    * d_decontam split) loses every line the corpus slice (< 95)
    * already contains, then keep-first within the batch; Bloom
    * prefilter ON so the definite-novel path is exercised map-side. */
  def dIncrLines(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BloomDedup, Sampling, Stage}
    val lined = pseudoLined(Tables(spark, dir).documents)
    val bucket = Sampling.hashBucket(col("doc_id"))
    // the lh table feeds TWO consumers (the bloom build action and the
    // anti-join); materialize once — in production this is the
    // persisted index table, so the reuse boundary mirrors compaction
    val corpusLines = Stage.reuse(
      BloomDedup.corpusLineHashes(lined.filter(bucket < 95)))
    BloomDedup.incrementalLineDedup(lined.filter(bucket >= 95), corpusLines,
        BloomDedup.buildFilter(corpusLines, hashCol = "lh"))
      .orderBy("doc_id")
  }

  /** Steady-state twin of [[dIncrLines]]: the same incremental line
    * dedup, but against a PREBUILT persisted line-hash index — the
    * production CCNet shape where the corpus index is compacted once
    * per corpus compaction, not rebuilt per batch. The index (corpus
    * line-hash parquet + serialized Bloom) is built AT MOST ONCE per
    * JVM and fixture (marker-file idempotent, lock-guarded); after
    * that the measured plan is batch split + map-side Bloom probe +
    * anti-join against the persisted table + reassembly only.
    * Output is IDENTICAL to d_incr_lines (same semantics, different
    * corpus materialization), so it shares the full hash oracle. */
  def dIncrSteady(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BloomDedup, Sampling}
    val lined = pseudoLined(Tables(spark, dir).documents)
    val bucket = Sampling.hashBucket(col("doc_id"))
    val idxDir =
      compactOnce("lineidx", s"$dir/documents.parquet",
          params = "split95:tok3:v1") { staging =>
        // compaction: ONE corpus pass to the lh table (bucket it by lh
        // in production so the per-batch anti-join is exchange-free on
        // the corpus side), one bounded agg for the Bloom bytes
        BloomDedup.corpusLineHashes(lined.filter(bucket < 95))
          .write.mode("overwrite").parquet(s"$staging/lines")
        BloomDedup.buildFilter(
            spark.read.parquet(s"$staging/lines"), hashCol = "lh")
          .foreach(BloomDedup.saveFilter(spark, _, s"$staging/bloom.bin"))
      }
    val corpusLines = spark.read.parquet(s"$idxDir/lines")
    BloomDedup.incrementalLineDedup(lined.filter(bucket >= 95), corpusLines,
        BloomDedup.loadFilter(spark, s"$idxDir/bloom.bin"))
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5), with the
    * hot-shingle document-frequency cap ON — the 100 TB-safe default: a
    * stopword trigram shared by k docs would otherwise contribute O(k²)
    * join output while adding no discrimination. The oracle mirrors the
    * identical capped semantics (shingles with df > 100 dropped from
    * sizes AND intersections). */
  def dNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    dNgramJaccardImpl(spark, dir, materialize = true)

  /** `materialize = false` variant for plan tests: the gate query with
    * lineage truncation off, so the broadcast anti-join cap and the
    * exchange layout stay assertable in the logical plan. */
  def dNgramJaccardImpl(spark: SparkSession, dir: String, materialize: Boolean): DataFrame =
    Dedup.ngramJaccard(Tables(spark, dir).documents, threshold = 0.5,
        maxDocFreq = Some(100L), materialize = materialize)
      .orderBy("id_a", "id_b")

  /** Exact Jaccard pairs via PPJoin prefix filtering (θ=0.7 — the
    * high-threshold regime where the prefix filter bites hardest). The
    * oracle is the plain exact θ-join: the gate therefore verifies the
    * prefix filter's COMPLETENESS (no qualifying pair missed), not just
    * its precision. */
  def dPpjoin(spark: SparkSession, dir: String): DataFrame =
    dPpjoinImpl(spark, dir, materialize = true)

  def dPpjoinImpl(spark: SparkSession, dir: String, materialize: Boolean): DataFrame =
    Dedup.jaccardJoinPrefix(Tables(spark, dir).documents, threshold = 0.7,
        maxDocFreq = Some(100L), materialize = materialize)
      .orderBy("id_a", "id_b")

  /** MinHash+LSH near-dup pairs (16 perms × 4 bands, verify ≥ 0.5). */
  def dMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    dMinhashLshImpl(spark, dir, materialize = true)

  def dMinhashLshImpl(spark: SparkSession, dir: String, materialize: Boolean): DataFrame =
    Dedup.minhashLsh(Tables(spark, dir).documents, threshold = 0.5,
        materialize = materialize)
      .orderBy("id_a", "id_b")

  /** SimHash signatures (32-bit, per-doc). */
  def dSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables(spark, dir).documents)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** SimHash near-dup pairs via byte-banding, hamming ≤ 3 (banding-complete). */
  def dSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashBandedPairs(Dedup.simhash(Tables(spark, dir).documents), maxDist = 3)
      .orderBy("id_a", "id_b")

  /** Passage-level near-dup pairs (winnowing prints, ≥ 10 shared, hot
    * print cap). Hash-oracled: the prints are md5 k-gram hashes with the
    * classic winnowing selection on top, which DuckDB reproduces
    * bit-for-bit (see the d_winnow_pairs entry in [[LlmOracles]]) —
    * upgraded from the rows-only rolling-hash form carried since r2. */
  def dWinnowPairs(spark: SparkSession, dir: String): DataFrame =
    // k=24 chars ≈ a 4-5 word passage window: selective enough that
    // chance collisions in a small-vocabulary corpus stay rare (k=8
    // matched 27% of all doc pairs here — char 8-grams repeat by
    // chance); tight df cap kills boilerplate prints
    Dedup.winnowPairs(Tables(spark, dir).documents, minShared = 10,
        k = 24, window = 8, maxDocFreq = Some(20L))
      .orderBy("id_a", "id_b")

  /** The production-throughput rolling-hash variant of d_winnow_pairs —
    * same winnowing selection and join over [[graft.expressions]]'
    * one-pass `graft_winnow` prints (O(len) per doc vs O(len·k) md5).
    * Since round 10 this has a FULL hash oracle: DuckDB recomputes the
    * base-257 mod-2^64 k-gram hashes positionally in HUGEINT with the
    * power table pre-reduced mod 2^64, then takes signed window minima
    * — bit-identical to the JVM kernel (see the d_winnow_fast entry in
    * [[LlmOracles]]). OperatorSpec additionally pins that the fast form
    * finds the same planted passage as the md5 form. */
  def dWinnowFast(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairsFast(Tables(spark, dir).documents, minShared = 10,
        k = 24, window = 8, maxDocFreq = Some(20L))
      .orderBy("id_a", "id_b")

  /** Near-dup clustering: connected components over the capped-jaccard
    * pair graph — every doc in a transitive near-dup cluster labeled
    * with the cluster's minimum id. Oracled by a DuckDB RECURSIVE CTE
    * computing min-reachable-id over the identical pair set, so the
    * iterative clustering layer is hash-verified end to end. */
  def dComponents(spark: SparkSession, dir: String): DataFrame =
    // strict: a non-converged propagation must FAIL the gate (partial
    // labels would silently keep spurious "canonical" docs downstream),
    // not warn past it
    Dedup.components(
        Dedup.ngramJaccard(Tables(spark, dir).documents, threshold = 0.5,
          maxDocFreq = Some(100L)),
        strict = true)
      .orderBy("id")

  /** Cross-table fuzzy linkage: odd part keys < 120 (the "new batch")
    * matched against ALL even part keys (the "master table") by
    * char-trigram jaccard ≥ 0.5 on the part name — blocking equi-join,
    * never batch×master. */
  def dLinkage(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables(spark, dir).part
    Dedup.linkJaccard(
        part.filter(col("p_partkey") % 2 === 1 && col("p_partkey") < 120),
        part.filter(col("p_partkey") % 2 === 0),
        threshold = 0.5, textCol = "p_name", idCol = "p_partkey")
      .orderBy("id_l", "id_r")
  }

  /** Quality-aware survivor per near-dup cluster: same capped-jaccard
    * pair graph as d_components, survivor = the LONGEST member (length
    * desc, id tie-break) instead of the lowest id — the production
    * keep-the-best-copy policy, hash-oracled end to end. */
  def dSurvivor(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .withColumn("__q", length(col("text")).cast("long"))
    Dedup.keepBest(docs,
        Dedup.ngramJaccard(docs, threshold = 0.5, maxDocFreq = Some(100L)),
        scoreCol = "__q", strict = true)
      .withColumn("keep", col("keep").cast("int"))
      .orderBy("id")
  }

  /** Same labels via large-star/small-star alternation — the O(log n)
    * rounds scale path for adversarial (deep-chain) pair graphs. */
  def dComponentsStar(spark: SparkSession, dir: String): DataFrame =
    Dedup.componentsStar(
        Dedup.ngramJaccard(Tables(spark, dir).documents, threshold = 0.5,
          maxDocFreq = Some(100L)))
      .orderBy("id")

  /** Leakage-free split: 10% test by near-dup COMPONENT (n-gram
    * Jaccard ≥ 0.5 pairs, capped) — a near-dup cluster never straddles
    * the train/test boundary. */
  def dSplitLeakfree(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = Tables(spark, dir).documents
    val pairs = Dedup.ngramJaccard(docs, threshold = 0.5, maxDocFreq = Some(100L))
    val (train, test) = Sampling.splitByComponent(docs, pairs, testPct = 10)
    train.select(col("doc_id"), lit("train").as("split"))
      .union(test.select(col("doc_id"), lit("test").as("split")))
      .orderBy("doc_id")
  }

  /** Domain rebalancing: cap src0 at 1% and src1 at 2% of the corpus
    * (each source is 5% in the testdata), other sources untouched. */
  def tRebalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.rebalanceBySource(Tables(spark, dir).documents, "source",
        Map("src0" -> 0.01, "src1" -> 0.02))
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Per-domain document cap (RefinedWeb-style): at most 10 docs per
    * source, survivors picked by salted-md5 rank — deterministic
    * downsampling of over-crawled domains. */
  def tCapDomain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.capPerKey(Tables(spark, dir).documents, "source", maxPerKey = 10)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling: explicit keep-fractions per
    * stratum (src0 50%, src1 20%, default 10%), selection a pure
    * function of doc_id — `sampleBy` without the partition-order
    * dependence. */
  def tStratified(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.sampleStratified(Tables(spark, dir).documents, "source",
        Map("src0" -> 0.5, "src1" -> 0.2), defaultFraction = 0.1)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle: reproducible 8-shard assignment +
    * intra-shard order from doc_id alone (export-order step). */
  def tShard(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.shuffleDeterministic(Tables(spark, dir).documents, "doc_id", shards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** Overlapping token chunks (50 tokens, 10 overlap) — the retrieval/
    * context-window preprocessing step; explode-only, no shuffle. */
  def tChunks(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Chunker
    Chunker.chunkTokens(Tables(spark, dir).documents, chunkSize = 50, overlap = 10)
      .orderBy("id", "chunk_idx")
  }

  /** Benchmark decontamination: corpus docs (hash bucket < 95) sharing
    * ≥ 1 distinct word-8-gram with any "benchmark" doc (bucket ≥ 95) —
    * the test side broadcasts, the corpus never shuffles. */
  def dDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Decontaminate, Sampling}
    val docs = Tables(spark, dir).documents
    val bucket = Sampling.hashBucket(col("doc_id"))
    Decontaminate.contaminatedPairs(
        docs.filter(bucket < 95), docs.filter(bucket >= 95), n = 8)
      .orderBy("id", "test_id")
  }

  /** Unigram-LM quality score: mean -ln p(token) per doc under the
    * corpus's own token distribution (cheap perplexity proxy). */
  def tUnigramLp(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    TextStats.unigramLogProb(Tables(spark, dir).documents).orderBy("id")
  }

  /** DSIR importance weights: mean log-likelihood ratio of each doc
    * under the src0-domain target LM vs the whole-corpus LM (shared
    * Laplace smoothing) — the data-selection signal for tilting a
    * training mix toward a target domain. */
  def tDsir(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    val docs = Tables(spark, dir).documents
    TextStats.importanceWeights(docs, docs.filter(col("source") === "src0"))
      .orderBy("id")
  }

  /** Top-3 TF-IDF terms per doc (smoothed idf, engine-stable rank). */
  def tTfidf(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    TextStats.tfidfTopTerms(Tables(spark, dir).documents, k = 3)
      .orderBy("id", "rnk")
  }

  /** Aligned shared passages (k=24-gram winnow prints, window 8,
    * df-cap 20, ≥ 5 prints on one alignment diagonal) — verbatim
    * passage reuse with character spans in both docs. */
  def dPassages(spark: SparkSession, dir: String): DataFrame =
    Dedup.sharedPassages(Tables(spark, dir).documents, minPrints = 5,
        k = 24, window = 8, maxDocFreq = Some(20L))
      .orderBy("id_a", "id_b", "a_start", "b_start")

  /** Quality-ranked token-budget selection: rank docs by alpha-ratio
    * quality (desc, id tie-break), keep the best until 10k tokens —
    * the post-scoring selection step, computed with the two-phase
    * distributed prefix, never a single-task global cumsum. */
  def tBudget(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val scored = Tables(spark, dir).documents
      .select(col("doc_id"), Text.alphaRatio(col("text")).as("score"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
    Sampling.selectByTokenBudget(scored, "score", "n_tokens", budget = 10000)
      .select("doc_id", "score", "n_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  /** Temperature (α=0.3) sampling over the skewed lang distribution
    * (en is 44% of the corpus): high-resource langs are down-sampled
    * (n_copies 0/1), low-resource langs up-sampled (1/2) — the
    * mBERT/XLM-R data-mixing rule as a deterministic replication
    * count. */
  def tTemperature(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.temperatureSample(Tables(spark, dir).documents, "lang", alpha = 0.3)
      .select(col("doc_id"), col("lang"), col("n_copies"))
      .orderBy("doc_id")
  }

  /** Exact-substring duplicate spans (Lee et al. 2021 ExactSubstr):
    * token ranges of each doc duplicated verbatim in ≥ 2 docs — k=5
    * token grams, runs of ≥ 4 grams (spans ≥ 8 tokens at this corpus'
    * ~50-token docs; the paper's 50-token rule at production scale). */
  def dSubstrSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(Tables(spark, dir).documents, k = 5, minRun = 4)
      .orderBy("doc_id", "start_tok")

  /** The ExactSubstr remediation: the corpus with every duplicated
    * span cut out (same parameters as d_substr_spans). */
  def dSubstrRemoved(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicateSpans(Tables(spark, dir).documents, k = 5, minRun = 4)
      .orderBy("doc_id")

  /** Incremental ExactSubstr: the 5% hash-bucket "new crawl" spanned
    * against the 95% standing corpus' gram table (Bloom-prefiltered
    * probe — the corpus text is never re-scanned) plus in-batch
    * cross-doc duplication. */
  def dIncrSubstr(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BloomDedup, Sampling, Stage}
    val docs = Tables(spark, dir).documents
    val bucket = Sampling.hashBucket(col("doc_id"))
    // the gram table feeds the bloom build action AND the probe join;
    // materialize once — in production this is the persisted index
    val cg = Stage.reuse(BloomDedup.corpusGrams(docs.filter(bucket < 95), k = 5))
    BloomDedup.incrementalSpans(docs.filter(bucket >= 95), cg,
        BloomDedup.buildFilter(cg, hashCol = "h"), k = 5, minRun = 4)
      .orderBy("doc_id", "start_tok")
  }

  /** Incremental exact dedup ([[graft.operators.BloomDedup]]): the 20%
    * hash-bucket "new batch" against the 80% standing corpus — novel
    * batch docs take the broadcast bloom-prefilter fast path (map-side
    * only, no shuffle), suspected dups resolve via the exact
    * fingerprint join. The realistic 100 TB operating mode: dedup
    * today's crawl without re-shuffling the corpus. */
  def dIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BloomDedup, Sampling}
    val docs = Tables(spark, dir).documents
    val bucket = Sampling.hashBucket(col("doc_id"))
    BloomDedup.incrementalExact(docs.filter(bucket < 20), docs.filter(bucket >= 20))
      .orderBy("id")
  }

  /** Incremental NEAR-dup: cross-set MinHash LSH (16 perms × 4 bands,
    * exact-jaccard verify ≥ 0.5) of the 20% batch against the 80%
    * corpus — candidates come from corpus×batch band buckets only,
    * never corpus×corpus. */
  def dIncrLsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{BloomDedup, Sampling}
    val docs = Tables(spark, dir).documents
    val bucket = Sampling.hashBucket(col("doc_id"))
    BloomDedup.incrementalLsh(docs.filter(bucket < 20), docs.filter(bucket >= 20),
        threshold = 0.5)
      .orderBy("id", "dup_of")
  }

  /** Embedding-cosine near-dup pairs (blocked by cell, ≥ 0.45). */
  def dEmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDup(Tables(spark, dir).embeddings, threshold = 0.45)
      .orderBy("id_a", "id_b")

  /** Semantic dedup (SemDeDup): every embedding mapped to the
    * canonical survivor of its cosine-0.45 cluster (transitive), keep
    * flag for the deduplicated corpus. */
  def dSemDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(Tables(spark, dir).embeddings, threshold = 0.45)
      .withColumn("keep", col("keep").cast("int"))
      .orderBy("id")

  /** Seeded ±1 random projection 64 → 8 dims (JL sign matrix as plan
    * literals; map-side only). */
  def sRproj(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(Tables(spark, dir).embeddings, inDim = 64, outDim = 8)
      .orderBy("id", "dim")

  /** Brute-force cosine top-5 for query vectors vec_id < 10. */
  def sCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
      .orderBy("query_id", "rnk")
  }

  /** Interpolated bigram LM score (λ=0.7 bigram MLE + Laplace unigram
    * back-off) — the next rung of the CCNet perplexity ladder above
    * t_unigram_lp, with the (prev, token) pairs derived map-side. */
  def tBigramLm(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    TextStats.bigramLogProb(Tables(spark, dir).documents).orderBy("id")
  }

  /** Shannon char/token entropy per doc — the distribution-level
    * repetitiveness quality signal (low entropy = mash/boilerplate),
    * complementing t_dupgrams' positional one. */
  def tEntropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextStats
    TextStats.entropyScores(Tables(spark, dir).documents).orderBy("doc_id")
  }

  /** Verified heavy hitters over the lang column: exact counts of every
    * key above 10% frequency, plus the in-plan assertion that the Karp
    * frequent-items sketch contained each of them (its no-false-
    * negatives guarantee — the one property the sketch promises). */
  def tHeavy(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    Sketches.verifiedHeavyHitters(Tables(spark, dir).documents, "lang",
        support = 0.10)
      .orderBy("lang")
  }

  /** Binary-quantized ANN: sign-bit signatures (2x32-bit words for the
    * 64-dim fixture), coarse Hamming top-30 shortlist, exact-cosine
    * rerank to top-5 — fully deterministic, so the DuckDB oracle
    * re-derives the whole two-stage result bit-for-bit. */
  def sHamming(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.hammingTopK(e.filter(col("vec_id") < 10), e, dim = 64, k = 5,
        shortlist = 30)
      .orderBy("query_id", "rnk")
  }

  /** Banded Hamming near-dup pairs over the whole embedding corpus —
    * the no-broadcast, shuffle-on-bucket form for query-heavy binary
    * ANN ([[Similarity.hammingBandedPairs]]): 8 bands of 8 bits over
    * the 64-dim sign signatures, full-Hamming filter at 15. With
    * maxHamming >= bands the candidate set is recall-approximate but
    * fully deterministic — the oracle re-derives banding, bucket join
    * and popcount filter bit-for-bit, so this is a full hash gate on
    * the operator's exact semantics. */
  def sHammingBanded(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.hammingBandedPairs(
        Tables(spark, dir).embeddings, dim = 64, maxHamming = 15, bands = 8)
      .orderBy("id_a", "id_b")

  /** IVF-bucketed ANN top-3 (probe own cell only) for vec_id < 10. */
  def sAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    Similarity.ivfTopK(e.filter(col("vec_id") < 10), e, k = 3)
      .orderBy("query_id", "rnk")
  }

  /** Self-contained trained-IVF ANN recall gate: train the k-means
    * quantizer (seeded, deterministic init), probe nprobe=2 of 8 cells,
    * and assert recall@5 ≥ 0.5 against the exact brute-force oracle —
    * all in one declarative plan (the boolean is what the DuckDB oracle
    * pins, so a quantizer regression fails the gate). */
  def sAnnIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val q = e.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTrainedTopK(q, e, k = 5, cells = 8, iters = 3, nprobe = 2)
    val bf = Similarity.bruteForceTopK(q, e, k = 5)
    bf.select("query_id", "cand_id")
      .join(ivf.select(col("query_id"), col("cand_id"), lit(1).as("hit")),
        Seq("query_id", "cand_id"), "left")
      .agg(count_distinct(col("query_id")).cast("long").as("n_queries"),
        (sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= 0.5).as("recall_ok"))
  }

  /** Product-quantized ANN (Jégou et al. 2011): 8-subspace, 32-codeword
    * codebooks (8 B/vector vs 256 B float), ADC shortlist of 50 refined
    * by exact distance. Recall\@5 vs the exact-L2 brute force — measured
    * 0.76–0.78 across sf0.001–0.1 with the seeded trainer (iters=2 —
    * measured equal to iters=3 at a third less training); gate asserts
    * ≥ 0.5. */
  def sAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val q = e.filter(col("vec_id") < 10)
    // trainBound=512: the codebooks train on a deterministic bounded
    // sample — at any corpus size the trainers scan ~512 vectors, not
    // the corpus. ksub=64 recovers the resolution the smaller training
    // set costs (recall@5 re-measured after bounding: 0.88 / 0.94 /
    // 0.70 at sf0.001/0.01/0.1 vs the r7 full-train 0.76-0.78)
    val cbs = Similarity.pqTrain(e, m = 8, ksub = 64, iters = 2, trainBound = 512)
    val pq = Similarity.pqTopK(q, e, k = 5, cbs, shortlist = 50)
    annRecallGate(e, q, pq)
  }

  /** Composed IVF×PQ ANN (FAISS IVFPQ+refine shape): coarse quantizer
    * + codebooks trained on a deterministic 512-vector bounded sample
    * (the full corpus is never scanned by the trainers at bound<n),
    * nprobe=5 of 8 cells probed, ADC only within probed cells,
    * shortlist of 100 exactly re-ranked. Recall\@5 vs exact-L2 brute
    * force, asserted ≥ 0.5 in-plan like [[sAnnPq]] — measured 0.98 /
    * 0.94 / 0.82 at sf0.001/0.01/0.1 (nprobe is high because the
    * synthetic embeddings have weak cluster structure; the PLAN is the
    * point — candidate scoring is an equi-join on the probed cell, so
    * with a cell-partitioned corpus the scan reads nprobe/cells of the
    * 8 B codes, never the float corpus). */
  def sAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val q = e.filter(col("vec_id") < 10)
    val ann = Similarity.ivfPqTrainedTopK(q, e, k = 5, cells = 8, nprobe = 5,
      m = 8, ksub = 64, shortlist = 100, trainBound = 512)
    annRecallGate(e, q, ann)
  }

  /** Persisted ANN index (compact-once / query-many): [[AnnIndex.compact]]
    * writes centroids + codebooks + the cell-partitioned code/float
    * table, then [[AnnIndex.queryBatch]] answers the batch purely from
    * the prebuilt index (probed-cell partition pruning, ADC over codes,
    * exact refine over the pruned float column — the corpus is never
    * re-encoded). Same trained artifacts and search knobs as
    * [[sAnnIvfPq]], so recall matches it; the gate asserts recall@5
    * ≥ 0.5 vs exact-L2 brute force in-plan. NOTE the gate deliberately
    * times its own compaction (like d_incr_lines) — the steady-state
    * path amortizes exactly that cost. */
  def sAnnIndex(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    // per-call scratch index, deleted in the same call: the result is
    // eagerly materialized first, so no /tmp accumulation across
    // bench/verify runs — and Bench times query CONSTRUCTION, so the
    // compaction this gate exists to measure stays inside the timer
    val indexDir = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    try {
      AnnIndex.compact(e, indexDir, cells = 8, m = 8, ksub = 64,
        coarseIters = 3, pqIters = 2, trainBound = 512)
      val model = AnnIndex.load(spark, indexDir)
      val q = e.filter(col("vec_id") < 10)
      val ann = AnnIndex.queryBatch(q, model, k = 5, nprobe = 5, shortlist = 100)
      annRecallGate(e, q, ann).localCheckpoint(true)
    } finally deleteRecursively(java.nio.file.Paths.get(indexDir))
  }

  /** Build-once guard for a persisted per-fixture index dir under
    * java.io.tmpdir. The cache key covers (a) the source file's path +
    * mtime + size — the fixtures are regenerated in place between
    * driver rounds, so a path-only key would serve an index built from
    * the previous data generation — and (b) the caller's `params`
    * string (every constant that shapes the index), so a parameter or
    * algorithm change in a later commit can never be served a stale
    * layout. Completeness is signalled by the FINAL directory's
    * existence: the index is built into a process-private staging dir
    * and atomically renamed, so a concurrent JVM either sees nothing
    * (and builds its own staging copy — the loser's rename fails and
    * its staging dir is discarded) or sees a complete index; no
    * cross-process overwrite of a dir another reader is scanning.
    *
    * WHY THIS IS NOT [[graft.operators.IndexGen]] (the deliberate
    * decision, not an oversight): the two mechanisms publish different
    * THINGS. IndexGen manages a mutable index IDENTITY — one root whose
    * content evolves through generations under maintenance (addEpoch /
    * remove / vacuum / rebuild), with a manifest protocol that stays
    * atomic on filesystems without atomic rename and a GC that must
    * never strand a concurrent reader. This helper publishes an
    * immutable CACHE ENTRY — the key (fixture mtime+size+params) IS the
    * identity, a new data generation gets a brand-new key and directory
    * rather than a new generation under one root, nothing is ever
    * maintained in place, and the medium is by construction a local
    * POSIX tmpdir where directory ATOMIC_MOVE is a guaranteed
    * primitive. The two compose rather than compete: the ANN fixtures'
    * cached artifact internally IS an IndexGen root ([[AnnIndex.compact]]
    * begins/promotes a generation inside the staging dir), so folding
    * the cache layer onto IndexGen would nest a manifest root inside
    * another root's generation and put a second live-resolution hop on
    * every steady-state gate, while the content-keyed dedup and the
    * loser-discard race logic would still have to exist on top. */
  private val compactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def compactOnce(tag: String, srcFile: String, params: String)
                         (build: String => Unit): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = Paths.get(srcFile)
    val stamp =
      try s"${Files.getLastModifiedTime(p).toMillis}:${Files.size(p)}"
      catch { case _: Exception => "absent" }
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$srcFile@$stamp@$params".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val finalDir = Paths.get(s"${sys.props("java.io.tmpdir")}/graft-$tag-$key")
    // per-key lock INSIDE the helper: same-JVM concurrent callers for
    // one (fixture, params) key would otherwise share the pid-keyed
    // staging dir and corrupt it with interleaved overwrites — safety
    // must not rest on every call site remembering an external lock
    val lock = compactLocks.computeIfAbsent(finalDir.toString, _ => new Object)
    lock.synchronized {
      if (!Files.isDirectory(finalDir)) {
        val staging = Paths.get(
          s"$finalDir.stage-${ProcessHandle.current().pid()}")
        build(staging.toString)
        try Files.move(staging, finalDir, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case e: java.nio.file.FileSystemException =>
            // losing a cross-process race is fine — use the winner's,
            // drop ours. But a move that failed with NO winner present
            // (tmpdir fs refusing the directory move) must rethrow:
            // deleting the only copy and returning a missing path
            // would crash every consumer and rebuild-and-delete
            // forever. (FileAlreadyExistsException ⊂ FileSystemException.)
            if (Files.isDirectory(finalDir)) deleteRecursively(staging)
            else throw e
        }
      }
    }
    finalDir.toString
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)

  /** Steady-state ANN search against a PREBUILT persisted index — the
    * amortized number a 100 TB deployment quotes. [[sAnnIndex]] times
    * its own compaction (train + encode + partitioned write + read-back)
    * by design; here the index is compacted AT MOST ONCE per JVM and
    * fixture (marker-file idempotent, lock-guarded), so the measured
    * plan is probe → `cell IN (…)`-pruned ADC → exact refine, plus the
    * in-plan recall gate's one broadcast-10-query brute-force check.
    * Bench's discard-first-run policy absorbs the one-off compaction. */
  def sAnnQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    // deterministic per-fixture location: repeat calls (bench's 3 runs,
    // verify after tests) reuse the same compacted artifacts
    val indexDir =
      compactOnce("annidx", s"$dir/embeddings.parquet",
          params = "c8:m8:k64:ci3:pi2:tb512:v1") { staging =>
        AnnIndex.compact(e, staging, cells = 8, m = 8, ksub = 64,
          coarseIters = 3, pqIters = 2, trainBound = 512)
      }
    val model = AnnIndex.load(spark, indexDir)
    val q = e.filter(col("vec_id") < 10)
    val ann = AnnIndex.queryBatch(q, model, k = 5, nprobe = 5, shortlist = 100)
    annRecallGate(e, q, ann)
  }

  /** FAISS add lifecycle under a recall gate: the index is compacted
    * from 80% of the corpus, the remaining 20% is [[AnnIndex.add]]ed
    * with the ORIGINAL training (no retrain, no rewrite of standing
    * partitions — AnnIndexSpec pins the file-level contract), and the
    * batch is answered against the combined index. Recall is measured
    * against brute force over the FULL corpus, so the gate fails if
    * added vectors were not searchable or were coded wrongly. */
  def sAnnAdd(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val indexDir =
      compactOnce("annadd", s"$dir/embeddings.parquet",
          params = "c8:m8:k64:ci3:pi2:tb512:mod5:v1") { staging =>
        AnnIndex.compact(e.filter(col("vec_id") % 5 =!= 0), staging,
          cells = 8, m = 8, ksub = 64,
          coarseIters = 3, pqIters = 2, trainBound = 512)
        AnnIndex.add(e.filter(col("vec_id") % 5 === 0), staging,
          AnnIndex.load(spark, staging))
      }
    val model = AnnIndex.load(spark, indexDir)
    val q = e.filter(col("vec_id") < 10)
    val ann = AnnIndex.queryBatch(q, model, k = 5, nprobe = 5, shortlist = 100)
    annRecallGate(e, q, ann)
  }

  /** FAISS remove_ids lifecycle under a recall gate: the index is
    * compacted from the FULL corpus, every vec_id % 7 == 3 is
    * tombstoned ([[AnnIndex.remove]] — append-only, standing cell
    * files untouched; AnnIndexSpec pins the file contract and the
    * vacuum that folds tombstones in), and the batch is answered
    * against the live remainder. Two in-plan booleans: recall@5 ≥ 0.5
    * measured against brute force over corpus-MINUS-removed (the
    * correct ground truth after deletion), and none_removed — no
    * tombstoned id may surface in any answer (the actual deletion
    * semantics; a broken anti-join flips it). */
  def sAnnRemove(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val indexDir =
      compactOnce("annrm", s"$dir/embeddings.parquet",
          params = "c8:m8:k64:ci3:pi2:tb512:rm7-3:v1") { staging =>
        AnnIndex.compact(e, staging, cells = 8, m = 8, ksub = 64,
          coarseIters = 3, pqIters = 2, trainBound = 512)
        AnnIndex.remove(e.filter(col("vec_id") % 7 === 3)
          .select("vec_id"), staging)
      }
    val model = AnnIndex.load(spark, indexDir)
    val q = e.filter(col("vec_id") < 10)
    val ann = AnnIndex.queryBatch(q, model, k = 5, nprobe = 5, shortlist = 100)
      .localCheckpoint(true) // two aggregates below read it — one compute
    val kept = e.filter(col("vec_id") % 7 =!= 3)
    val leak = ann
      .join(broadcast(e.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").as("cand_id"))), Seq("cand_id"), "left_semi")
      .agg((count(lit(1)) === 0).as("none_removed"))
    annRecallGate(kept, q, ann).crossJoin(broadcast(leak))
  }

  /** In-plan recall gate shared by the persisted-index queries: brute
    * exact top-5 for the (broadcast-tiny) query batch, left-joined
    * against the ANN answer — emits (n_queries, recall_ok ≥ 0.5). */
  private def annRecallGate(e: DataFrame, q: DataFrame, ann: DataFrame): DataFrame = {
    val qq = q.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val cc = e.select(col("vec_id").as("cand_id"),
      col("embedding").cast("array<double>").as("cv"))
    val d = Similarity.dot(col("qv"), col("qv")) -
      Similarity.dot(col("qv"), col("cv")) * 2.0 +
      Similarity.dot(col("cv"), col("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d").asc, col("cand_id"))
    val bf = broadcast(qq).join(cc, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), d.as("d"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
    bf.select("query_id", "cand_id")
      .join(ann.select(col("query_id"), col("cand_id"), lit(1).as("hit")),
        Seq("query_id", "cand_id"), "left")
      .agg(count_distinct(col("query_id")).cast("long").as("n_queries"),
        (sum(coalesce(col("hit"), lit(0))) / count(lit(1)) >= 0.5).as("recall_ok"))
  }

  /** Multimodal metadata extraction with REAL image decode: synthesize
    * deterministic PNG/animated-GIF fixtures from doc ids
    * ([[MultiModal.synthesizeOne]]'s formula contract), then recover
    * dims + frame count by actually decoding the bytes with the JDK's
    * ImageIO. The gate emits only the decode-derived columns — the
    * byte_len/content_md5 the operator also produces depend on the
    * PNG/GIF ENCODER's output bytes (stable in this image, but not a
    * cross-JDK invariant the oracle should pin). */
  def mmMeta(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables(spark, dir).documents
      .select(col("doc_id")).filter(col("doc_id") < 400)
    MultiModal.extractMeta(MultiModal.synthesize(ids))
      .select("doc_id", "width", "height", "n_frames")
      .orderBy("doc_id")
  }

  /** Decoded-pixel statistics gate: the full synthesize → encode →
    * decode round trip, pinned EXACTLY — per-channel integer sums of
    * the decoded pixels must equal the DuckDB re-derivation of the
    * generator formulas (PNG gradients) / closed forms (solid-gray
    * GIF frames). This is what retires the old StubDecoder: a decoder
    * regression of a single pixel fails the hash. */
  def mmDecode(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables(spark, dir).documents
      .select(col("doc_id")).filter(col("doc_id") < 400)
    MultiModal.decodeStats(MultiModal.synthesize(ids))
      .orderBy("doc_id")
  }

  /** Event sessionization (30-min inactivity gap) via watermark-free
    * batch windowing: lag + cumulative sum — the batch twin of the
    * streaming flatMapGroupsWithState sessionizer (SURVEY §7.2-M4).
    * Scale: one shuffle on user_id; per-user state is O(1). */
  def q17Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    Tables(spark, dir).events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_sess").over(byUser))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"), max("ts").as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** REAL multimodal frame extraction (the video frame-sample shape):
    * every synthesized blob expands to one row per DECODED frame —
    * multi-frame GIFs yield all their frames through
    * `ImageReader.read(i)`, PNGs yield one — with exact per-channel
    * pixel sums per frame, which the oracle re-derives from the
    * generator formulas (gradient sums for the PNG frame; the
    * solid-gray closed form for every GIF frame). Replaced the
    * synthetic md5 frame signatures of rounds ≤11: frame plumbing AND
    * frame payloads are now both decode-real. */
  def mmFrames(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables(spark, dir).documents
      .select(col("doc_id")).filter(col("doc_id") < 400)
    MultiModal.decodeFrames(MultiModal.synthesize(ids))
      .orderBy("doc_id", "frame_idx")
  }

  /** IMAGE NEAR-DUP DEDUP, end to end (r12 verdict item #2) — the
    * multimodal north-star composition: real decode → grid-mean
    * features ([[MultiModal.decodeFeatures]]) → sign-bit signatures →
    * banded Hamming pair generation
    * ([[Similarity.hammingBandedPairs]]), over a fixture of PLANTED
    * near-duplicate images: each gradient PNG also appears as a
    * decode→2× nearest-neighbor upscale→PNG re-encode twin
    * ([[MultiModal.resizeScale]], twin id = base + 100000). The
    * fixture keeps docs whose dims are multiples of the grid (grid=4
    * cells align with the 2× replication blocks), so twin features
    * equal base features EXACTLY (nested-floor identity — see
    * resizeScale's doc) and every planted twin pair surfaces at
    * hamming 0; 48-bit signatures keep unrelated gradients apart
    * (grid=2's 12 bits drowned the planted pairs in background
    * collisions — measured, 2000 pairs from 202 ids).
    *
    * Features are centered at 0.5 (decodeFeatures normalizes means to
    * [0,1]) so signBits' x>0 threshold splits at mid-gray; all bit
    * decisions are sign-safe under IEEE rounding (identical op
    * sequence on both engines). With 48-dim signatures in 6 bands,
    * maxHamming=5 sits AT the pigeonhole bound (5 mismatches can spoil
    * at most 5 of 6 bands), so banding has provably FULL recall and
    * the oracle is the plain hamming≤5 θ-join over bits re-derived
    * from the generator formulas — the gate pins decode, feature,
    * signature, banding and pairing bit-for-bit.
    *
    * Scale: the fixture is small, the SHAPE is the 100 TB one — one
    * decode pass per side, no shuffle before the banded equi-join,
    * exactly-once pair emission, no distinct. */
  def mmNeardup(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables(spark, dir).documents
      .select(col("doc_id"))
      .filter(col("doc_id") < 500 && col("doc_id") % 5 =!= 0 &&
        (lit(8) + col("doc_id") % 9) % 4 === 0 &&
        (lit(6) + col("doc_id") % 7) % 4 === 0)
    val base = MultiModal.synthesize(ids)
    val twins = MultiModal.resizeScale(base, 2)
      .select((col("doc_id") + 100000L).as("doc_id"), col("content"))
    val feats = MultiModal.decodeFeatures(
      base.select("doc_id", "content").unionByName(twins), grid = 4)
    val centered = feats.select(col("doc_id"),
      transform(col("features"), f => f - lit(0.5)).as("fv"))
    Similarity.hammingBandedPairs(centered, dim = 48, maxHamming = 5,
        bands = 6, idCol = "doc_id", vecCol = "fv")
      .orderBy("id_a", "id_b")
  }

  /** FRAME-SEQUENCE (video-shaped) NEAR-DUP — the temporal composition
    * (r13 verdict item #5) from the finished pieces: multi-frame decode
    * → per-frame luminance features assembled into ONE temporal vector
    * inside the decode pass ([[MultiModal.frameFeatures]] — no
    * per-frame rows, no groupBy shuffle) → sign bits (frame brighter /
    * darker than mid-gray, an exact integer comparison) →
    * [[Similarity.hammingBandedPairs]], over planted re-encoded
    * animation twins: each md5-solid 24+‑frame GIF
    * ([[MultiModal.synthesizeHashGif]]) also appears as a REAL
    * decode → 2× NN upscale → GIF re-encode of every frame
    * ([[MultiModal.resizeScaleFrames]], twin id = base + 200000).
    * Upscaling scales each frame's luminance value by exactly 4, so
    * twin signatures are bit-identical and every planted pair surfaces
    * at hamming 0; md5 noise gives unrelated clips independent 24-bit
    * brightness curves (collision odds ~2⁻²⁴ per pair — and the oracle
    * computes the same deterministic set either way). maxHamming=0 has
    * full recall at any band count (identical signatures share every
    * band); the oracle re-derives every frame's gray value with
    * DuckDB's md5 and θ-joins equal signatures.
    *
    * Scale shape: one decode pass per side (signature assembly
    * included), banded equi-join, exactly-once emission — the
    * mm_neardup contract extended along the time axis. */
  def mmFramesNeardup(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables(spark, dir).documents
      .select(col("doc_id")).filter(col("doc_id") < 300 && col("doc_id") % 3 === 0)
    val base = MultiModal.synthesizeHashGif(ids)
    val twins = MultiModal.resizeScaleFrames(base, 2)
      .select((col("doc_id") + 200000L).as("doc_id"), col("content"))
    val sigs = MultiModal.frameFeatures(
      base.select("doc_id", "content").unionByName(twins), frames = 24)
    Similarity.hammingBandedPairs(sigs, dim = 24, maxHamming = 0, bands = 3,
        idCol = "doc_id", vecCol = "features")
      .orderBy("id_a", "id_b")
  }

  /** AUDIO as a second real modality (r12 verdict item #4): the full
    * synthesize → WAV-encode → `javax.sound.sampled` decode round
    * trip, pinned EXACTLY — sample rate / channel layout / frame
    * count, per-channel integer sample sums and sums of squares, and
    * 4-window channel-0 energy features
    * ([[graft.operators.AudioModal]]), all re-derived by the DuckDB
    * oracle sample by sample from the generator formulas. The clip
    * table materializes ONCE ([[graft.operators.Stage.reuse]]) and
    * feeds both decode passes. Energy windows are exact integers
    * (Σs² of 16-bit samples), so the hash pins the decoder and the
    * windowing rule with no float tolerance. */
  def mmAudio(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{AudioModal, Stage}
    val ids = Tables(spark, dir).documents
      .select(col("doc_id")).filter(col("doc_id") < 400)
    val clips = Stage.reuse(AudioModal.synthesizeWav(ids))
    val stats = AudioModal.decodeStats(clips)
    val feats = AudioModal.features(clips, windows = 4)
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("long").as("w0"),
        element_at(col("features"), 2).cast("long").as("w1"),
        element_at(col("features"), 3).cast("long").as("w2"),
        element_at(col("features"), 4).cast("long").as("w3"))
    stats.join(feats, "doc_id").orderBy("doc_id")
  }

  /** THE FLAGSHIP COMPOSITION, oracle-pinned end to end: the complete
    * text-curation funnel ([[graft.operators.Curation.curate]] —
    * quality/language/repetition gates → exact dedup → MinHash-LSH
    * near-dup components → PII redaction → leak-free split) MINUS the
    * image lane's banded-Hamming losers (real `javax.imageio` decode →
    * grid features → sign bits) MINUS the audio lane's (real
    * `javax.sound.sampled` WAV decode → windowed energies → sign
    * bits) — the [[graft.examples.MultiModalCurationExample]] flow as
    * ONE gate whose DuckDB oracle re-derives every stage: the funnel
    * from the documents table (each formula the same as its standalone
    * gate: t_quality, t_langid, rule-filter top fraction, d_exact,
    * d_minhash_lsh at 16 perms / 8 bands / θ=0.8, the d_components
    * recursive closure, t_redact, the md5 split bucket), the image
    * features from the [[graft.operators.MultiModal.synthesizeOne]]
    * pixel formulas (twins are REAL decode→2× upscale→re-encode blobs;
    * the oracle leans on the nested-floor feature identity the
    * mm_neardup gate pins), and the audio bits from
    * [[graft.operators.AudioModal.hashWavOne]]'s md5-noise samples
    * (sign-vs-mean over exact integer energies ⇔ 32·e_w > Σe, an
    * integer comparison — no float tolerance anywhere in the gate).
    *
    * A hash mismatch in ANY stage — a gate threshold, a minhash band,
    * a component edge, one pixel of one decoded image, one sample of
    * one decoded clip — moves the final corpus and fails the compare:
    * this one gate transitively pins the whole engine's curation path.
    *
    * Scale shape: the funnel is the [[graft.operators.Curation]] plan
    * (scalar gates codegen'd on the scan, one exact-dedup shuffle, the
    * banded LSH join, hash-min components); each media lane is one
    * decode pass + the banded equi-join; loser sets anti-join back
    * sized by AQE. */
  def mmCuration(spark: SparkSession, dir: String): DataFrame = {
    import graft.examples.MultiModalCurationExample
    import graft.operators.Curation
    val docs = Tables(spark, dir).documents
    val ids = docs.select("doc_id").filter(col("doc_id") < 2000)
    MultiModalCurationExample.compose(
        Curation.curate(docs),
        MultiModalCurationExample.imageLosers(
          MultiModalCurationExample.plantedImages(ids)),
        MultiModalCurationExample.audioLosers(
          MultiModalCurationExample.plantedHashClips(ids)))
      .orderBy("doc_id")
  }

  /** THE FLAGSHIP, STREAMING (r13 verdict item #4): the same
    * cross-modality curation funnel run as a REAL Structured Streaming
    * pipeline — the documents arrive as three id-hashed micro-batches
    * through a MemoryStream + foreachBatch, each batch's text gates /
    * fingerprints / minhash-LSH signatures / media decode+signatures
    * are computed ONCE in its epoch and folded into accumulated
    * epoch-partitioned state ([[graft.operators.CurationStream]] —
    * every write is a dynamic-partition epoch overwrite, so replays
    * are idempotent), cross-epoch near-dup pairs come from banded
    * joins against the accumulated index, and one end-of-stream
    * consolidation (components → redact → split → media anti-joins)
    * produces the corpus. The output HASH-EQUALS the batch
    * [[mmCuration]] gate — the oracle is literally the same DuckDB
    * SQL, so one oracle adjudicates both execution modes (the
    * reference's one-pipeline-bounded-or-unbounded thesis,
    * `README.md:29`, applied to the full curation path). */
  def mmCurationStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.examples.MultiModalCurationExample
    import graft.operators.CurationStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, dir).documents
    // collect = the MemoryStream TEST-SOURCE scaffold only (MemoryStream
    // feeds from driver memory by construction): a deployment swaps in a
    // Kafka/file readStream and nothing in CurationStream itself — the
    // operator under test — ever collects; its per-epoch work is all
    // executor-side (gate columns, aggs, banded joins, partition writes)
    val rows = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect()
    val epochs = 3
    val byEpoch = (0 until epochs).map(e =>
      rows.filter(r => java.lang.Math.floorMod(r._1, epochs.toLong) == e))
    val root = java.nio.file.Files.createTempDirectory("graft-curation-stream").toString
    val stateDir = s"$root/state"
    // ONE finally spans both phases: a failure inside the streaming
    // phase must still delete the state/checkpoint tree (stranding a
    // temp tree per failed verify/bench run otherwise)
    try {
      val mem = MemoryStream[(Long, String)]
      // steady-state maintenance IN the gate, via the WIRED policy (r15
      // fold-in-gate, r16 knob): foldEvery = 2 folds epochs 0-1 into the
      // compacted IndexGen generation at the end of epoch 1 — epoch 2
      // then ingests against compacted ∪ live state, and the corpus must
      // STILL hash-equal the batch gate under the same DuckDB oracle
      // (fold invisibility, adjudicated per round, through the same
      // auto-fold path a production foreachBatch driver configures)
      val q = graft.streaming.Streams.start(mem.toDF().toDF("doc_id", "text"))(_
        .foreachBatch { (b: DataFrame, epochId: Long) =>
          val ids = b.select(col("doc_id")).filter(col("doc_id") < 2000)
          CurationStream.ingestEpoch(b,
            MultiModalCurationExample.epochImages(ids),
            MultiModalCurationExample.epochHashClips(ids),
            stateDir, epochId, foldEvery = 2)
        }
        .option("checkpointLocation", s"$root/ckpt"))
      try {
        byEpoch.foreach { part =>
          mem.addData(part.toSeq: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      CurationStream.finalizeCorpus(spark, stateDir)
        .orderBy("doc_id").localCheckpoint(true)
    } finally deleteRecursively(java.nio.file.Paths.get(root))
  }

  /** Semi-structured JSON column processing (§2.7 / serde surface):
    * extract + aggregate a JSON field from the events props column.
    * Scale: get_json_object is a codegen'd path expression — no full
    * JSON parse, no UDF. */
  def q26JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(avg("k"), 4).as("avg_k"),
        max("k").as("max_k"))
      .orderBy("event_type")
}
