package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental SEMANTIC dedup against a standing corpus — the
  * embedding-space member of the prebuilt-index family
  * ([[graft.examples.DailyCrawlExample]] covers exact + LSH + decontam;
  * this covers SemDeDup, Abbas et al. 2023). Same compaction /
  * steady-state split:
  *
  *  - COMPACTION scans the corpus once: trains the coarse quantizer on
  *    a bounded sample ([[Similarity.trainKMeans]]), runs corpus
  *    [[Similarity.semanticDedup]], and persists two artifacts — the
  *    k×dim centroids (driver-tiny) and the cell-PARTITIONED survivor
  *    embeddings.
  *  - Each BATCH assigns cells from centroid literals (map-side, no
  *    corpus state), joins survivors on the cell — the batch side
  *    broadcasts, and because `cell` is the survivors' partition
  *    column, dynamic partition pruning reads only the batch's cells
  *    at scale — verifies exact cosine, then semantic-dedups the
  *    corpus-novel remainder batch-internally. The corpus parquet is
  *    never scanned after compaction (listener-asserted in
  *    SemanticIndexSpec, like DailyCrawlSpec).
  */
object SemanticIndex {

  /** The loaded index: quantizer centroids + survivor embeddings. */
  final case class Model(centroids: Seq[Array[Double]], survivors: DataFrame)

  /** One-off corpus compaction: write `centroids/` and `survivors/`
    * (partitioned by cell) under `indexDir`.
    *
    * `cells` ≤ 0 (the default) derives the cell count from the corpus
    * size via [[Similarity.adaptiveCentroids]] — cells target
    * `targetCellSize` members and oversized cells are split-refined, so
    * the within-cell pair join of the corpus [[Similarity.semanticDedup]]
    * below (and of every [[labelBatch]] after it) stays bounded as the
    * corpus grows. A fixed `cells = 8` on a large corpus made each cell
    * ~corpus/8 and that join quadratic; pass an explicit positive
    * `cells` only when the corpus size is known and modest. */
  def compact(corpus: DataFrame, indexDir: String, threshold: Double,
              cells: Int = 0, iters: Int = 3, trainBound: Long = 1L << 20,
              targetCellSize: Long = 1L << 13,
              idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val cents =
      if (cells > 0) Similarity.trainKMeans(corpus, cells, iters, idCol, vecCol, trainBound)
      else Similarity.adaptiveCentroids(corpus, targetCellSize, iters, trainBound,
        idCol, vecCol)
    // reuse: the celled corpus feeds BOTH the dedup pair generation and
    // the survivor filter — without the boundary the assignment (and
    // the corpus scan under it) runs twice
    val celled = Stage.reuse(Similarity.assignCells(
      corpus.select(col(idCol), col(vecCol)), cents, vecCol))
    val labels = Similarity.semanticDedup(celled, threshold, "cell", idCol, vecCol)
    val survivors = celled.join(
      labels.filter(col("keep")).select(col("id").as(idCol)), idCol)
    import spark.implicits._
    // fresh IndexGen generation + atomic promote: a reader loaded at
    // the previous generation keeps its consistent snapshot while this
    // recompaction writes and publishes (see IndexGen's object doc)
    val gen = IndexGen.begin(spark, indexDir)
    cents.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toDF("cell", "pos", "val")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/centroids")
    survivors.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$gen/survivors")
    IndexGen.promote(spark, indexDir, gen)
  }

  def load(spark: SparkSession, indexDir: String): Model = {
    val gen = IndexGen.liveRequired(spark, indexDir)
    val rows = spark.read.parquet(s"$gen/centroids")
      .select("cell", "pos", "val")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val cents = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, dims) =>
      val arr = new Array[Double](dims.length)
      dims.foreach { case (_, p, v) => arr(p) = v }
      arr
    }
    Model(cents, spark.read.parquet(s"$gen/survivors"))
  }

  /** Label one batch against the loaded index: `dup_of` = the
    * minimum-id corpus survivor within `threshold` cosine in the
    * doc's cell, else the batch-internal semantic canonical (strict
    * transitive components, as [[Similarity.semanticDedup]]), else
    * NULL; `keep` = no duplicate found. Touches only the batch and the
    * index tables — never the corpus. */
  def labelBatch(batch: DataFrame, model: Model, threshold: Double,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = Similarity.assignCells(
        batch.select(col(idCol).as("id"), col(vecCol).as("bv")),
        model.centroids, "bv")
      .withColumn("bn", Similarity.norm(col("bv")))
    val s = model.survivors.select(col(idCol).as("sid"), col("cell"),
        col(vecCol).as("sv"))
      .withColumn("sn", Similarity.norm(col("sv")))
    // batch broadcasts; survivors (the corpus-scale side) is only ever
    // probed — and only in the batch's cells (partition pruning)
    val corpusDup = broadcast(b).join(s, Seq("cell"))
      .filter(Similarity.dot(col("bv"), col("sv")) / (col("bn") * col("sn"))
        >= threshold)
      .groupBy("id").agg(min("sid").as("corpus_dup"))
    val novel = b.join(corpusDup, Seq("id"), "left_anti")
    val internal = Similarity.semanticDedup(
        novel.select(col("id").as(idCol), col("bv").as(vecCol), col("cell")),
        threshold, "cell", idCol, vecCol)
      .select(col("id"),
        when(col("canonical_id") =!= col("id"), col("canonical_id"))
          .as("internal_dup"))
    b.select("id")
      .join(corpusDup, Seq("id"), "left")
      .join(internal, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("corpus_dup"), col("internal_dup")).as("dup_of"))
      .withColumn("keep", col("dup_of").isNull)
  }

  /** Streaming twin: each micro-batch of embeddings labels against the
    * index loaded ONCE per stream; epoch-partitioned dynamic-overwrite
    * parquet output keeps the sink idempotent per epoch across
    * restarts (the [[graft.examples.DailyCrawlExample.labelStream]]
    * shape — batch-internal components need aggregation + self-joins
    * that append-mode streaming cannot express, so `foreachBatch`). */
  def labelStream(stream: DataFrame, indexDir: String, threshold: Double,
                  outDir: String, checkpoint: String,
                  idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val model = load(stream.sparkSession, indexDir)
    graft.streaming.Streams.start(stream)(_
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        labelBatch(batch, model, threshold, idCol, vecCol)
          .withColumn("__epoch", lit(epochId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__epoch")
          .parquet(outDir)
      }
      .option("checkpointLocation", checkpoint))
  }
}
