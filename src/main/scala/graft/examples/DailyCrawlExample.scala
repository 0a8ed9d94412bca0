package graft.examples

import graft.operators._
import graft.operators.BloomDedup.LshIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The daily-crawl curation pipeline, end to end — the composition the
  * round-5 operator family exists for. A standing corpus plus today's
  * batch go in; a deduplicated, decontaminated, rebalanced, chunked and
  * deterministically sharded training delta comes out. Run with
  * `sbt "runMain graft.examples.DailyCrawlExample [sfDir]"`.
  *
  * Structured the way a 100 TB pipeline actually runs (SCALING.md §
  * incremental): a COMPACTION phase that scans the corpus and persists
  * its standing index — the exact-dup fingerprint map, the serialized
  * Bloom filter, and the LSH index (shingle long form + banded minhash
  * signatures) — and a per-batch STEADY-STATE phase that labels today's
  * crawl against those artifacts alone. The corpus parquet is read only
  * at compaction; every daily job is batch-sized (DailyCrawlSpec
  * asserts zero corpus scans in the batch phase with a listener).
  *
  * Every step is a lazy DataFrame transform; the only driver-side
  * artifacts are the Bloom filter bytes (one array) and the printed
  * counts.
  */
object DailyCrawlExample {

  /** All index-artifact IO goes through the session's Hadoop
    * FileSystem, never java.nio — `indexDir` may be hdfs://, s3a://, or
    * a local path; java.nio would throw on a cluster URI, or report the
    * bloom artifacts absent and silently degrade every batch to the
    * no-prefilter path. Bloom bytes go through
    * [[BloomDedup.saveFilter]]/[[BloomDedup.loadFilter]]. */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = IndexGen.fs(spark, path)
    f.exists(p)
  }

  /** Compaction: scan the corpus (twice — fingerprint agg, shingle set)
    * and persist the standing index under `indexDir`:
    * `fp/` (fp → canonical id map), `bloom.bin` (serialized filter over
    * the fp column, built from the just-written map, not a third corpus
    * scan), `sh/` + `bands/` + `sizes/` (the [[LshIndex]]), `lh/` +
    * `lh_bloom.bin` (line hashes). On a real cluster these land as
    * bucketed tables (by `fp` / `sh` / (band, sig)) so the steady-state
    * joins are exchange-free on the corpus side. */
  def compactCorpus(corpus: DataFrame, indexDir: String,
                    expectedItems: Long = 1L << 20,
                    expectedLines: Long = 1L << 25,
                    pplBy: String = "source",
                    pplSamplePct: Int = 20): Unit = {
    val spark = corpus.sparkSession
    // the WHOLE artifact set lands in one IndexGen generation and
    // publishes atomically at the end: a mid-recompaction reader
    // resolves the previous generation and sees a CONSISTENT index
    // (pre-IndexGen, each artifact overwrote in place — a reader could
    // mix yesterday's fp map with today's bloom filter, or catch an
    // artifact dir mid-overwrite). Crash before promote = invisible
    // staging, GC'd by the next successful compaction.
    val gen = IndexGen.begin(spark, indexDir)
    BloomDedup.corpusFingerprints(corpus)
      .write.mode("overwrite").parquet(s"$gen/fp")
    BloomDedup.buildFilter(spark.read.parquet(s"$gen/fp"), expectedItems)
      .foreach(BloomDedup.saveFilter(spark, _, s"$gen/bloom.bin"))
    val idx = BloomDedup.lshIndex(corpus)
    idx.shingles.write.mode("overwrite").parquet(s"$gen/sh")
    idx.bands.write.mode("overwrite").parquet(s"$gen/bands")
    // set sizes persisted too: without this table every batch run
    // re-aggregates the corpus shingle long form for the jaccard
    // denominator — a corpus-scale groupBy that compaction can pay once
    idx.sizesOf.write.mode("overwrite").parquet(s"$gen/sizes")
    // line-hash table + bloom: the corpus-wide LINE dedup artifact
    // (CCNet step) — fourth member of the index family. Sized by
    // `expectedLines`, NOT `expectedItems`: distinct lines run tens of
    // times the doc count, and an undersized filter saturates toward
    // fp-rate 1, sending every batch line down the anti-join and
    // defeating the map-side fast path
    BloomDedup.corpusLineHashes(corpus)
      .write.mode("overwrite").parquet(s"$gen/lh")
    BloomDedup.buildFilter(spark.read.parquet(s"$gen/lh"),
        expectedLines, hashCol = "lh")
      .foreach(BloomDedup.saveFilter(spark, _, s"$gen/lh_bloom.bin"))
    // LM vocab + per-`pplBy` perplexity cutoffs: the steady-state
    // scoring artifacts — future batches score and bucket against
    // these without a corpus scan (see [[scoreBatch]]). Written only
    // when the grouping column exists (a (doc_id, text)-only corpus
    // still compacts its dedup index). Intra-generation write order no
    // longer carries crash semantics — an unpromoted generation is
    // invisible whole — but cuts still writes last so the gen's
    // content order mirrors the scoring dependency.
    if (corpus.columns.contains(pplBy)) {
      TextStats.corpusLm(corpus)
        .write.mode("overwrite").parquet(s"$gen/lm")
      val scoredCorpus = TextStats
        .unigramLogProbAgainst(corpus, spark.read.parquet(s"$gen/lm"))
        .join(corpus.select(col("doc_id").as("id"), col(pplBy)), "id")
        .select(col("id"), col(pplBy), col("mean_nll"))
      TextStats.pplCutoffs(scoredCorpus, pplBy, samplePct = pplSamplePct)
        .write.mode("overwrite").parquet(s"$gen/cuts")
    }
    IndexGen.promote(spark, indexDir, gen)
  }

  /** Steady-state perplexity scoring: today's batch against the
    * PREBUILT LM vocab + cutoffs — (id, `pplBy`, mean_nll, bucket),
    * zero corpus scans. Requires an index compacted by this round's
    * [[compactCorpus]] with the `pplBy` column present (the guard
    * checks BOTH artifacts, so a compaction that crashed between the
    * writes reads as not-compacted rather than failing later with a
    * raw path error). */
  def scoreBatch(batch: DataFrame, indexDir: String,
                 pplBy: String = "source"): DataFrame = {
    val spark = batch.sparkSession
    // resolve the live generation ONCE: both artifacts come from the
    // same consistent snapshot even if a recompaction promotes mid-call
    val root = IndexGen.liveRequired(spark, indexDir)
    if (!pathExists(spark, s"$root/lm") || !pathExists(spark, s"$root/cuts"))
      throw new IllegalStateException(
        s"$indexDir has no LM artifacts — re-run compactCorpus on a corpus with '$pplBy'")
    scoreBatchLoaded(batch, spark.read.parquet(s"$root/lm"),
      spark.read.parquet(s"$root/cuts"), pplBy)
  }

  /** [[scoreBatch]] against ALREADY-LOADED artifacts — the shared core
    * of the directory and bucketed-catalog paths. */
  def scoreBatchLoaded(batch: DataFrame, lmVocab: DataFrame,
                       cuts: DataFrame, pplBy: String = "source"): DataFrame = {
    val scored = TextStats.unigramLogProbAgainst(batch, lmVocab)
      .join(batch.select(col("doc_id").as("id"), col(pplBy)), "id")
      .select(col("id"), col(pplBy), col("mean_nll"))
    TextStats.assignPplBuckets(scored, cuts, pplBy)
  }

  /** Bucketed-catalog twin of [[scoreBatch]]: the LM vocab rides as a
    * `_lm` table bucketed by token (the score join's key), cutoffs as
    * the tiny `_cuts` table. */
  def scoreBatchBucketed(batch: DataFrame, tablePrefix: String,
                         pplBy: String = "source"): DataFrame = {
    val spark = batch.sparkSession
    if (!spark.catalog.tableExists(s"${tablePrefix}_lm") ||
        !spark.catalog.tableExists(s"${tablePrefix}_cuts"))
      throw new IllegalStateException(
        s"$tablePrefix has no LM tables — re-run compactCorpusBucketed on a corpus with '$pplBy'")
    scoreBatchLoaded(batch, spark.table(s"${tablePrefix}_lm"),
      spark.table(s"${tablePrefix}_cuts"), pplBy)
  }

  /** The persisted line-hash artifacts of [[compactCorpus]]: the `lh`
    * table and its Bloom bytes (None when the corpus had no lines). */
  def loadLineIndex(spark: SparkSession, indexDir: String)
      : (DataFrame, Option[Array[Byte]]) = {
    val root = IndexGen.liveRequired(spark, indexDir)
    (spark.read.parquet(s"$root/lh"),
      BloomDedup.loadFilter(spark, s"$root/lh_bloom.bin"))
  }

  /** The persisted artifacts of [[compactCorpus]], reloaded — all from
    * ONE [[IndexGen]]-resolved generation, so the fp map, bloom bytes
    * and LSH tables are always a mutually consistent snapshot. */
  def loadIndex(spark: SparkSession, indexDir: String)
      : (DataFrame, Option[Array[Byte]], LshIndex) = {
    val root = IndexGen.liveRequired(spark, indexDir)
    (spark.read.parquet(s"$root/fp"),
      BloomDedup.loadFilter(spark, s"$root/bloom.bin"),
      LshIndex(spark.read.parquet(s"$root/sh"),
        spark.read.parquet(s"$root/bands"),
        Some(spark.read.parquet(s"$root/sizes"))))
  }

  /** Cluster-layout variant of [[compactCorpus]]: the index lands as
    * BUCKETED catalog tables — fp map by `fp`, shingles by `sh`, bands
    * by (band, sig), sizes by `id` — each pre-hashed on exactly the key
    * its steady-state join uses. The corpus side of every per-batch
    * join is then read ALREADY PARTITIONED: only the (small) batch side
    * shuffles, which is the point of the prebuilt path at 100 TB.
    * Bucket count rule of thumb: corpus bytes / 256 MB, capped by what
    * the catalog tolerates. */
  def compactCorpusBucketed(corpus: DataFrame, tablePrefix: String,
                            buckets: Int = 32, bloomPath: String = "",
                            expectedItems: Long = 1L << 20,
                            perms: Int = 16, bands: Int = 4, n: Int = 3,
                            lineBloomPath: String = "",
                            expectedLines: Long = 1L << 25,
                            pplBy: String = "source",
                            pplSamplePct: Int = 20): Unit = {
    val spark = corpus.sparkSession
    val fp = BloomDedup.corpusFingerprints(corpus)
    fp.write.mode("overwrite").bucketBy(buckets, "fp")
      .sortBy("fp").saveAsTable(s"${tablePrefix}_fp")
    if (bloomPath.nonEmpty)
      BloomDedup.buildFilter(spark.table(s"${tablePrefix}_fp"), expectedItems)
        .foreach(BloomDedup.saveFilter(spark, _, bloomPath))
    // (perms, bands, n) must match the batch side's lshIndex scheme
    val idx = BloomDedup.lshIndex(corpus, perms, bands, n)
    idx.shingles.write.mode("overwrite").bucketBy(buckets, "sh")
      .sortBy("sh").saveAsTable(s"${tablePrefix}_sh")
    idx.bands.write.mode("overwrite").bucketBy(buckets, "band", "sig")
      .sortBy("band", "sig").saveAsTable(s"${tablePrefix}_bands")
    idx.sizesOf.write.mode("overwrite").bucketBy(buckets, "id")
      .sortBy("id").saveAsTable(s"${tablePrefix}_sizes")
    // line-hash table bucketed by lh — the per-batch anti-join's
    // corpus side reads already partitioned (the SCALING.md promise)
    BloomDedup.corpusLineHashes(corpus)
      .write.mode("overwrite").bucketBy(buckets, "lh")
      .sortBy("lh").saveAsTable(s"${tablePrefix}_lh")
    if (lineBloomPath.nonEmpty)
      BloomDedup.buildFilter(spark.table(s"${tablePrefix}_lh"),
          expectedLines, hashCol = "lh")
        .foreach(BloomDedup.saveFilter(spark, _, lineBloomPath))
    // LM vocab bucketed by token (the score join's key) + the tiny
    // cutoff table — same conditional + ordering rules as the
    // directory path (see compactCorpus)
    if (corpus.columns.contains(pplBy)) {
      TextStats.corpusLm(corpus)
        .write.mode("overwrite").bucketBy(buckets, "t")
        .sortBy("t").saveAsTable(s"${tablePrefix}_lm")
      val scoredCorpus = TextStats
        .unigramLogProbAgainst(corpus, spark.table(s"${tablePrefix}_lm"))
        .join(corpus.select(col("doc_id").as("id"), col(pplBy)), "id")
        .select(col("id"), col(pplBy), col("mean_nll"))
      TextStats.pplCutoffs(scoredCorpus, pplBy, samplePct = pplSamplePct)
        .write.mode("overwrite").saveAsTable(s"${tablePrefix}_cuts")
    }
  }

  /** The bucketed-catalog twin of [[loadLineIndex]]. */
  def loadLineIndexBucketed(spark: SparkSession, tablePrefix: String,
                            lineBloomPath: String = "")
      : (DataFrame, Option[Array[Byte]]) =
    (spark.table(s"${tablePrefix}_lh"),
      if (lineBloomPath.nonEmpty) BloomDedup.loadFilter(spark, lineBloomPath) else None)

  /** The bucketed-catalog twin of [[loadIndex]]. */
  def loadIndexBucketed(spark: SparkSession, tablePrefix: String,
                        bloomPath: String = "")
      : (DataFrame, Option[Array[Byte]], LshIndex) = {
    val bloom = if (bloomPath.nonEmpty) BloomDedup.loadFilter(spark, bloomPath) else None
    (spark.table(s"${tablePrefix}_fp"), bloom,
      LshIndex(spark.table(s"${tablePrefix}_sh"),
        spark.table(s"${tablePrefix}_bands"),
        Some(spark.table(s"${tablePrefix}_sizes"))))
  }

  /** Steady-state daily labeling: today's batch against the PREBUILT
    * index — exact dedup (Bloom prefilter + resolve join), near-dup
    * removal (corpus×batch LSH band buckets + jaccard verify), then
    * benchmark decontamination, quality gating, domain rebalancing,
    * context-window chunking and deterministic sharding. Touches only
    * `batch`, `benchmark`, and the index tables — never the corpus. */
  def labelBatch(batch: DataFrame, benchmark: DataFrame, indexDir: String,
                 targets: Map[String, Double]): DataFrame =
    labelBatchLoaded(batch, benchmark,
      loadIndex(batch.sparkSession, indexDir), targets,
      Some(loadLineIndex(batch.sparkSession, indexDir)))

  /** [[labelBatch]] against an ALREADY-LOADED index — the per-epoch
    * entry point of [[labelStream]] (artifacts are immutable between
    * compactions; reloading bloom bytes + parquet footers per
    * micro-batch is pure overhead) and the natural seam for a caller
    * holding [[loadIndexBucketed]] tables. */
  def labelBatchLoaded(batch: DataFrame, benchmark: DataFrame,
                       index: (DataFrame, Option[Array[Byte]], LshIndex),
                       targets: Map[String, Double],
                       lineIndex: Option[(DataFrame, Option[Array[Byte]])] = None)
      : DataFrame = {
    val (corpusFp, bloom, corpusIdx) = index
    // 0. corpus-wide line dedup (CCNet order: line level FIRST, so a
    //    doc differing from a corpus doc only by boilerplate lines
    //    becomes an exact/near dup for the later stages); docs emptied
    //    by line removal are dropped here
    // Stage.reuse: `deduped` feeds the exact-dedup probe (whose bloom
    // path itself splits into two branches) AND the trailing re-join —
    // without the boundary the whole line-dedup subtree re-runs per
    // branch (the recompute class this function's other stages already
    // guard against)
    val deduped = lineIndex match {
      case None => batch
      case Some((corpusLines, lineBloom)) =>
        val ld = BloomDedup.incrementalLineDedup(batch, corpusLines, lineBloom)
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("text"))
        Stage.reuse(batch.drop("text").join(ld, "doc_id"))
    }
    // Stage.reuse marks each point where a stage output feeds TWO
    // downstream branches (the LSH index AND the keep-filter; the
    // decontamination join AND the keep-filter; the rebalance counts
    // AND the rebalance filter) — without it the whole upstream chain
    // re-runs per branch, 3-4x at the end of this pipeline.
    // 1. exact dedup against the corpus: novel docs only
    val novel = Stage.reuse(
      BloomDedup.incrementalExactPrebuilt(deduped, corpusFp, bloom)
        .filter(col("dup_of").isNull)
        .select(col("id").as("doc_id"))
        .join(deduped, "doc_id"))
    // 2. near-dup removal against the corpus (LSH + jaccard verify);
    //    only the BATCH side's index is computed per run
    val nearDupIds = BloomDedup
      .incrementalLshPrebuilt(BloomDedup.lshIndex(novel), corpusIdx, threshold = 0.5)
      .select(col("id").as("doc_id")).distinct()
    val fresh = Stage.reuse(novel.join(nearDupIds, Seq("doc_id"), "left_anti"))
    // 3. benchmark decontamination
    val clean = Decontaminate.removeContaminated(fresh, benchmark, n = 8)
    // 4. quality gates (per-row signals; corpus-LM score shown separately)
    val gated = Stage.reuse(
      clean.filter(graft.functions.Text.qualityScore(col("text")) > 0.3))
    // 5. domain rebalancing toward target shares
    val mixed = Sampling.rebalanceBySource(gated, "source", targets)
    // 6. chunk for the context window, shard deterministically for export
    val chunks = Chunker.chunkTokens(mixed, chunkSize = 50, overlap = 10)
    Sampling.shuffleDeterministic(chunks, "id", shards = 8)
  }

  /** Retroactive decontamination of a standing ANN index: when a NEW
    * benchmark lands AFTER the embedding index was compacted, standing
    * corpus docs that leak it must stop surfacing in similarity search
    * TODAY — without rebuilding or rewriting the index. One
    * broadcast-benchmark shingle pass flags the contaminated ids
    * ([[Decontaminate.contaminatedPairs]] — the corpus side streams,
    * the benchmark broadcasts), [[AnnIndex.remove]] tombstones their
    * vectors (append-only; standing cell files untouched), and the
    * next scheduled [[AnnIndex.vacuum]] folds them in. Returns the
    * evicted ids (the caller typically also drops the docs from the
    * text-side artifacts at its next compaction). The id space of
    * `corpus` and the ANN index must be shared (vec_id == doc_id —
    * the natural layout when the index is built from the corpus's
    * embedding column). */
  def evictContaminated(corpus: DataFrame, benchmark: DataFrame,
                        annIndexDir: String, n: Int = 8,
                        minShared: Long = 1): DataFrame = {
    // localCheckpoint: the flag pass is a corpus-side shingle join —
    // compute it ONCE (the empty-check, the remove write, and the
    // returned frame all read the materialized result, not three
    // re-runs of the join)
    val flagged = Decontaminate.contaminatedPairs(corpus, benchmark, n, minShared)
      .select(col("id")).distinct().localCheckpoint(true)
    // a clean day must stay free: no tombstone file, no anti-join
    // attached to every subsequent load, no pointless vacuum rewrite
    if (!flagged.isEmpty) AnnIndex.remove(flagged, annIndexDir, idCol = "id")
    flagged
  }

  /** Streaming twin of [[labelBatch]]: today's crawl arrives as an
    * UNBOUNDED stream and each micro-batch is labeled against the same
    * prebuilt index. The near-dup path aggregates and self-joins the
    * batch side, which append-mode streaming cannot express — so the
    * micro-batch is handed to the BATCH pipeline via `foreachBatch`,
    * the standard Spark shape for this. Output is parquet partitioned
    * by epoch with dynamic partition overwrite: a replayed epoch
    * overwrites its own partition instead of appending duplicates, so
    * the sink stays idempotent (exactly-once per epoch) across
    * restarts. */
  def labelStream(stream: DataFrame, benchmark: DataFrame, indexDir: String,
                  targets: Map[String, Double], outDir: String,
                  checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // index loaded ONCE per stream, not per epoch — the artifacts are
    // immutable between compactions
    val index = loadIndex(stream.sparkSession, indexDir)
    val lineIndex = Some(loadLineIndex(stream.sparkSession, indexDir))
    graft.streaming.Streams.start(stream)(_
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        labelBatchLoaded(batch, benchmark, index, targets, lineIndex)
          .withColumn("__epoch", lit(epochId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__epoch")
          .parquet(outDir)
      }
      .option("checkpointLocation", checkpoint))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = graft.core.Tables(spark, sfDir).documents
    val bucket = Sampling.hashBucket(col("doc_id"))
    // in production each is its own table; the hash split here just
    // carves the one test corpus into the three roles
    val corpus = docs.filter(bucket >= 20)     // the standing corpus
    val batch = docs.filter(bucket < 20)       // "today's crawl"
    val benchmark = docs.filter(bucket >= 95)  // held-out eval set

    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-crawl-index").toString
    val t0 = System.nanoTime()
    compactCorpus(corpus, indexDir)
    val tCompact = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val sharded = labelBatch(batch, benchmark, indexDir,
      targets = Map("src0" -> 0.01))
    val nChunks = sharded.count()
    val nShards = sharded.select("shard").distinct().count()
    val tBatch = (System.nanoTime() - t1) / 1e9
    println(f"batch=${batch.count()} chunks=$nChunks shards=$nShards " +
      f"compact=$tCompact%.1fs dailyBatch=$tBatch%.1fs")
    spark.stop()
  }
}
