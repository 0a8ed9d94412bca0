package graft

import graft.operators.{AnnIndex, IndexGen, Similarity}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Steady-state contract of the persisted IVF×PQ index: after
  * compaction writes centroids + codebooks + the cell-partitioned
  * code/float table, query batches are answered WITHOUT ever touching
  * the corpus parquet again (the SemanticIndexSpec property for ANN),
  * and the probed-cell filter statically prunes partitions of the
  * codes table.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  // 4 well-separated direction clusters in 8-dim space (m=2 subspaces
  // of 4 dims); jitter preserves the direction so exact-L2 neighbors
  // stay within the cluster
  private def member(base: Array[Float], i: Int): Seq[Float] =
    base.map(x => x * (1f + i * 0.01f)).toSeq
  private val bases = Seq(
    Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
    Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
    Array(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f),
    Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f))

  private def corpusRows: Seq[(Long, Seq[Float])] =
    // ids 1..4 seed one k-means init centroid per cluster; 5 members each
    (0 until 4).flatMap { c =>
      (0 until 5).map(i => ((1 + c + 4 * i).toLong, member(bases(c), i)))
    }

  test("queryBatch answers from the prebuilt index: zero corpus scans, pruned code partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-spec").toString
    val corpusPath = s"$dir/corpus.parquet"
    corpusRows.toDF("vec_id", "embedding").write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    val indexDir = s"$dir/index"
    AnnIndex.compact(corpus, indexDir, cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val model = AnnIndex.load(spark, indexDir)
    assert(model.centroids.length == 4)
    assert(model.codebooks.length == 2 && model.codebooks.head.length == 4)

    // ---- batch phase: everything below must be corpus-free ----
    val scanned = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = qe.analyzed.foreach {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.foreach(p => scanned.add(p.toString))
          case _ => ()
        }
        case _ => ()
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      // queries from driver memory (a production batch arrives as its
      // own table; reading it is not a corpus scan)
      val queries = Seq((100L, member(bases(0), 7)), (101L, member(bases(2), 8)))
        .toDF("vec_id", "embedding")
      val top = AnnIndex.queryBatch(queries, model, k = 3, nprobe = 1, shortlist = 8)
      val got = top.select("query_id", "rnk", "cand_id").as[(Long, Long, Long)]
        .collect().toSeq.sorted
      // top-3 of a cluster-0 query are cluster-0 members (ids ≡ 1 mod 4);
      // of a cluster-2 query, cluster-2 members (ids ≡ 3 mod 4)
      val byQuery = got.groupBy(_._1)
      assert(byQuery(100L).map(_._3).forall(id => id % 4 == 1),
        s"query 100 must hit cluster-0 members: $got")
      assert(byQuery(101L).map(_._3).forall(id => id % 4 == 3),
        s"query 101 must hit cluster-2 members: $got")
      assert(byQuery.values.forall(_.size == 3))

      // refine ranks by exact L2: the nearest member (smallest jitter
      // distance) must be rank 1 — recompute exact order driver-side
      val exact = corpusRows.filter(_._1 % 4 == 1)
        .map { case (id, v) =>
          val q = member(bases(0), 7)
          val d = q.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
          (id, d)
        }.sortBy(r => (r._2, r._1)).map(_._1).take(3)
      assert(byQuery(100L).sortBy(_._2).map(_._3) == exact,
        s"refine must produce the exact-L2 order: got ${byQuery(100L)} want $exact")

      // listener: sentinel flush, then assert what executed
      val sentinelPath = s"$dir/sentinel.parquet"
      Seq((0L, "sentinel")).toDF("id", "t").write.parquet(sentinelPath)
      spark.read.parquet(sentinelPath).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!scanned.asScala.exists(_.contains("sentinel.parquet")) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      assert(scanned.asScala.exists(_.contains("sentinel.parquet")),
        "listener never saw the sentinel read")
      // positive control: the index reads ARE visible to the listener
      assert(scanned.asScala.exists(_.contains("index")),
        "listener should see the index-table reads")
      val corpusScans = scanned.asScala.filter(_.contains("corpus.parquet")).toSeq
      assert(corpusScans.isEmpty,
        s"batch phase scanned the corpus ${corpusScans.size} time(s)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("add appends new vectors without retraining or rewriting standing files (FAISS add)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-add").toString
    corpusRows.toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    AnnIndex.compact(corpus, s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val model = AnnIndex.load(spark, s"$dir/index")
    def files(): Map[String, Long] = {
      java.nio.file.Files.walk(java.nio.file.Paths.get(
          s"${IndexGen.liveRequired(spark, s"$dir/index")}/corpus"))
        .iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
        .map(p => (p.toString, java.nio.file.Files.size(p))).toMap
    }
    val before = files()
    val batch = (0 until 4).map(c => ((200 + c).toLong, member(bases(c), 9)))
      .toDF("vec_id", "embedding")
    AnnIndex.add(batch, s"$dir/index", model)
    // append wrote NEW files only; every standing file survives unchanged
    val after = files()
    assert(before.forall { case (p, sz) => after.get(p).contains(sz) },
      "standing index files must not be rewritten by add")
    assert(after.size > before.size, "add must append new data files")
    val m2 = AnnIndex.load(spark, s"$dir/index")
    assert(m2.table.count() == corpusRows.size + 4)
    // trained artifacts are untouched — added vectors use the original
    // training, the FAISS add contract
    assert(m2.centroids.map(_.toSeq) == model.centroids.map(_.toSeq))
    assert(m2.codebooks.map(_.map(_.toSeq)) == model.codebooks.map(_.map(_.toSeq)))
    // a query identical to an added vector finds it at rank 1 via the
    // exact refine (distance 0) — the new vector is really searchable
    val q = Seq((999L, member(bases(1), 9))).toDF("vec_id", "embedding")
    val top = AnnIndex.queryBatch(q, m2, k = 3, nprobe = 1, shortlist = 8)
      .select("rnk", "cand_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(top.head == ((1L, 201L)), s"added vector must be the exact top-1: ${top.toSeq}")
  }

  test("remove tombstones vectors without touching cell files; vacuum folds them in (FAISS remove_ids)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-rm").toString
    corpusRows.toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    AnnIndex.compact(corpus, s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    def corpusFiles(): Map[String, Long] = {
      java.nio.file.Files.walk(java.nio.file.Paths.get(
          s"${IndexGen.liveRequired(spark, s"$dir/index")}/corpus"))
        .iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
        .map(p => (p.toString, java.nio.file.Files.size(p))).toMap
    }
    val before = corpusFiles()
    // the exact top-1 of a cluster-0 query is the smallest-jitter
    // member; tombstone it and the next member must take rank 1
    val q = Seq((999L, member(bases(0), 7))).toDF("vec_id", "embedding")
    val full = AnnIndex.load(spark, s"$dir/index")
    val fullTop = AnnIndex.queryBatch(q, full, k = 3, nprobe = 1, shortlist = 8)
      .select("rnk", "cand_id").as[(Long, Long)].collect().sortBy(_._1)
    val victim = fullTop.head._2
    AnnIndex.remove(Seq(victim).toDF("vec_id"), s"$dir/index")
    AnnIndex.remove(Seq(victim).toDF("vec_id"), s"$dir/index") // idempotent
    // file-level contract: deletion rewrote NOTHING under corpus/
    val after = corpusFiles()
    assert(after == before, "remove must not rewrite standing cell files")
    val m2 = AnnIndex.load(spark, s"$dir/index")
    assert(m2.tombstones.isDefined && m2.tombstones.get.count() == 1)
    val top2 = AnnIndex.queryBatch(q, m2, k = 3, nprobe = 1, shortlist = 8)
      .select("rnk", "cand_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(!top2.map(_._2).contains(victim), "removed id surfaced in results")
    // ranks shift up: the previous rank-2 is the new rank-1
    assert(top2.head == ((1L, fullTop(1)._2)), s"got ${top2.toSeq}")
    // vacuum: one rewrite folds the tombstones into the cell files
    AnnIndex.vacuum(spark, s"$dir/index")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      s"${IndexGen.liveRequired(spark, s"$dir/index")}/tombstones")))
    val m3 = AnnIndex.load(spark, s"$dir/index")
    assert(m3.tombstones.isEmpty)
    assert(m3.table.count() == corpusRows.size - 1)
    assert(m3.table.filter(col("cand_id") === victim).count() == 0)
    val top3 = AnnIndex.queryBatch(q, m3, k = 3, nprobe = 1, shortlist = 8)
      .select("rnk", "cand_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(top3.toSeq == top2.toSeq, "vacuum must not change answers")
  }

  test("streamed maintenance: a replayed epoch neither double-adds nor resurrects removed ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-stream").toString
    corpusRows.toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    AnnIndex.compact(corpus, s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val model = AnnIndex.load(spark, s"$dir/index")
    val batch = (0 until 4).map(c => ((300 + c).toLong, member(bases(c), 11)))
      .toDF("vec_id", "embedding")
    // one real stream round: two micro-batches through addStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = AnnIndex.addStream(mem.toDF().toDF("vec_id", "embedding"),
      s"$dir/index", s"$dir/ckpt")
    try {
      mem.addData((300L, member(bases(0), 11)), (301L, member(bases(1), 11)))
      q.processAllAvailable()
      mem.addData((302L, member(bases(2), 11)), (303L, member(bases(3), 11)))
      q.processAllAvailable()
    } finally q.stop()
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size + 4)
    // simulated FAILURE REPLAY: the same epoch id runs again (the
    // foreachBatch body, exactly what a restarted stream re-invokes) —
    // the epoch partition overwrites itself, count must not move
    AnnIndex.addEpoch(batch.filter(col("vec_id") < 302), s"$dir/index", model, 0L,
      streamId = AnnIndex.streamIdFor(s"$dir/ckpt"))
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size + 4,
      "replayed epoch must overwrite its own partition, not append")
    // remove a streamed-in vector, then replay its add epoch again:
    // the tombstone must keep shadowing it (no resurrection)
    AnnIndex.remove(Seq(301L).toDF("vec_id"), s"$dir/index")
    AnnIndex.addEpoch(batch.filter(col("vec_id") < 302), s"$dir/index", model, 0L,
      streamId = AnnIndex.streamIdFor(s"$dir/ckpt"))
    val m2 = AnnIndex.load(spark, s"$dir/index")
    // probe each planted cluster: 301 (cluster 1) must stay hidden,
    // 300 (cluster 0) must stay searchable
    val probes = Seq((998L, member(bases(0), 11)), (999L, member(bases(1), 11)))
      .toDF("vec_id", "embedding")
    val res = AnnIndex.queryBatch(probes, m2, k = 5, nprobe = 4, shortlist = 16)
      .select("cand_id").as[Long].collect().toSet
    assert(!res.contains(301L), "removed id resurfaced after an epoch replay")
    assert(res.contains(300L), "the surviving streamed add must stay searchable")
    // vacuum folds streamed additions + tombstones into the next
    // generation: additions table gone, consolidated corpus correct
    AnnIndex.vacuum(spark, s"$dir/index")
    val m3 = AnnIndex.load(spark, s"$dir/index")
    assert(m3.tombstones.isEmpty)
    assert(m3.table.count() == corpusRows.size + 3)
    assert(m3.table.filter(col("cand_id") === 301L).count() == 0)
  }

  test("ADD-ONLY vacuum consolidates streamed epoch additions into cell files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-addonly").toString
    corpusRows.toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    AnnIndex.compact(corpus, s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val model = AnnIndex.load(spark, s"$dir/index")
    val batch = (0 until 4).map(c => ((300 + c).toLong, member(bases(c), 11)))
      .toDF("vec_id", "embedding")
    AnnIndex.addEpoch(batch, s"$dir/index", model, 0L)
    val before = AnnIndex.load(spark, s"$dir/index").table
      .select("cand_id").as[Long].collect().sorted.toSeq
    // with ZERO tombstones the vacuum must still run — an add-only
    // streaming index accumulates per-epoch small files, and retiring
    // them is the whole point of the consolidation pass
    AnnIndex.vacuum(spark, s"$dir/index")
    val gen = IndexGen.liveRequired(spark, s"$dir/index")
    val fs = new org.apache.hadoop.fs.Path(gen)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen/additions")),
      "add-only vacuum must fold the epoch additions into cell files")
    val m2 = AnnIndex.load(spark, s"$dir/index")
    assert(m2.table.select("cand_id").as[Long].collect().sorted.toSeq == before,
      "consolidation must not change the indexed id set")
    // the streamed rows now live in cell partitions proper (prunable)
    assert(m2.table.filter(col("cand_id") >= 300L).count() == 4)
  }

  test("an epoch replayed AFTER a vacuum folded it is skipped — no double-add across generations") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-refold").toString
    corpusRows.toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    AnnIndex.compact(corpus, s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val model = AnnIndex.load(spark, s"$dir/index")
    val batch = (0 until 4).map(c => ((300 + c).toLong, member(bases(c), 11)))
      .toDF("vec_id", "embedding")
    AnnIndex.addEpoch(batch, s"$dir/index", model, 5L)
    AnnIndex.vacuum(spark, s"$dir/index") // epoch 5 folds into corpus rows
    // a stream restarted from a pre-vacuum checkpoint replays epoch 5:
    // its rows are CORPUS rows now — the epoch-partition overwrite
    // can't dedup across the fold, the folded-epoch high-water mark
    // must (pre-fix this double-added every replayed vector)
    AnnIndex.addEpoch(batch, s"$dir/index", model, 5L)
    val afterReplay = AnnIndex.load(spark, s"$dir/index")
    assert(afterReplay.table.count() == corpusRows.size + 4,
      "replaying a folded epoch must be a no-op")
    assert(afterReplay.table.groupBy("cand_id").count()
        .filter(col("count") > 1).count() == 0,
      "no id may appear twice after a replay across a vacuum")
    // a genuinely NEW epoch still lands
    val batch2 = Seq((310L, member(bases(0), 12))).toDF("vec_id", "embedding")
    AnnIndex.addEpoch(batch2, s"$dir/index", model, 6L)
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size + 5)
    // and the mark survives the NEXT vacuum (monotonic across folds)
    AnnIndex.vacuum(spark, s"$dir/index")
    AnnIndex.addEpoch(batch, s"$dir/index", model, 5L)
    AnnIndex.addEpoch(batch2, s"$dir/index", model, 6L)
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size + 5,
      "both folded epochs must stay no-ops after the second vacuum")
    // a REDEPLOYED pipeline (fresh checkpoint ⇒ new streamId) restarts
    // batch ids at 0: its epochs are genuinely NEW data — the folded
    // mark is per stream, so they must land, not be skipped as replays
    // of the old stream's folded ids
    val batch3 = Seq((320L, member(bases(1), 13))).toDF("vec_id", "embedding")
    AnnIndex.addEpoch(batch3, s"$dir/index", model, 0L, streamId = "deploy2")
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size + 6,
      "a new stream's epoch 0 must not be mistaken for a folded replay")
    // the new stream's own replay is still idempotent pre-vacuum...
    AnnIndex.addEpoch(batch3, s"$dir/index", model, 0L, streamId = "deploy2")
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size + 6)
    // ...and skipped post-vacuum, per stream, like the first one
    AnnIndex.vacuum(spark, s"$dir/index")
    AnnIndex.addEpoch(batch3, s"$dir/index", model, 0L, streamId = "deploy2")
    AnnIndex.addEpoch(batch2, s"$dir/index", model, 6L)
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size + 6,
      "per-stream marks must each suppress their own folded epochs")
  }

  test("re-compact carries folded-epoch marks: a replay across a rebuild is skipped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-recompact").toString
    corpusRows.toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    AnnIndex.compact(corpus, s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val model = AnnIndex.load(spark, s"$dir/index")
    val batch = (0 until 4).map(c => ((300 + c).toLong, member(bases(c), 11)))
      .toDF("vec_id", "embedding")
    // FOLDED epoch: vacuum moves its rows into corpus + records the mark
    AnnIndex.addEpoch(batch, s"$dir/index", model, 5L)
    AnnIndex.vacuum(spark, s"$dir/index")
    // PENDING epoch: written but never vacuumed
    val batch2 = Seq((310L, member(bases(0), 12))).toDF("vec_id", "embedding")
    AnnIndex.addEpoch(batch2, s"$dir/index", model, 6L)
    // rebuild per the contract: corpus = the live index's full content
    // (load().table = corpus ∪ pending additions), snapshotted to disk
    // so the rebuild doesn't read the generation it replaces mid-write
    AnnIndex.load(spark, s"$dir/index").table
      .select(col("cand_id").as("vec_id"), col("embedding"))
      .write.parquet(s"$dir/rebuild-src.parquet")
    AnnIndex.compact(spark.read.parquet(s"$dir/rebuild-src.parquet"),
      s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val n = corpusRows.size + 5
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == n)
    // a stream restarted from a pre-compact checkpoint replays BOTH the
    // folded epoch and the pending one — the carried (and raised) marks
    // must skip each (pre-fix: every replayed vector double-added)
    AnnIndex.addEpoch(batch, s"$dir/index", model, 5L)
    AnnIndex.addEpoch(batch2, s"$dir/index", model, 6L)
    val after = AnnIndex.load(spark, s"$dir/index")
    assert(after.table.count() == n,
      "replays across a re-compact must be no-ops (carried marks)")
    assert(after.table.groupBy("cand_id").count()
        .filter(col("count") > 1).count() == 0,
      "no id may appear twice after a replay across a rebuild")
    // a genuinely NEW epoch still lands after the rebuild
    AnnIndex.addEpoch(Seq((320L, member(bases(1), 13)))
      .toDF("vec_id", "embedding"), s"$dir/index", model, 7L)
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == n + 1)
  }

  test("an empty additions dir (aborted write residue) does not brick load") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-emptyadd").toString
    corpusRows.toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    AnnIndex.compact(spark.read.parquet(s"$dir/corpus.parquet"),
      s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val gen = IndexGen.liveRequired(spark, s"$dir/index")
    val fs = new org.apache.hadoop.fs.Path(gen)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the residue classes: a carry whose rename failed after mkdirs, or
    // an aborted addEpoch that left only non-partition staging litter
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$gen/additions"))
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size,
      "an empty additions dir must fall back to the corpus alone")
    fs.create(new org.apache.hadoop.fs.Path(
      s"$gen/additions/_temporary"), true).close()
    assert(AnnIndex.load(spark, s"$dir/index").table.count() == corpusRows.size,
      "staging litter without __epoch= partitions must be ignored")
  }

  test("probing statically prunes partitions of the codes table (nprobe/cells scan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx-prune").toString
    corpusRows.toDF("vec_id", "embedding").write.parquet(s"$dir/corpus.parquet")
    val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    AnnIndex.compact(corpus, s"$dir/index", cells = 4, m = 2, ksub = 4,
      coarseIters = 4, pqIters = 3, trainBound = 0L)
    val model = AnnIndex.load(spark, s"$dir/index")
    val queries = Seq((100L, member(bases(1), 7))).toDF("vec_id", "embedding")
    val top = AnnIndex.queryBatch(queries, model, k = 2, nprobe = 1)
    val p = top.queryExecution.executedPlan.toString
    // the cell IN (...) literal must reach the scan as a PARTITION
    // filter (static pruning — not data filtering after a full read)
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      s"probed cells must prune index partitions:\n${p.take(1200)}")
    // and the ADC join stays a hash equi-join on the cell, never an
    // all-codes nested loop
    assert("BroadcastHashJoin \\[cell#".r.findFirstIn(p).isDefined,
      s"ADC join must hash-join on the probed cell:\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no all-codes nested loop against the index:\n${p.take(1200)}")
    // the scan reads nprobe of the 4 cell partitions: with nprobe=1 the
    // pruned scan returns exactly one cell's candidates (5 of 20 rows)
    val scannedRows = model.table.filter(col("cell").isin(
      Similarity.assignCellsN(
        queries.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv")),
        model.centroids, 1, "qv")
        .select("cell").distinct().collect().map(_.getInt(0)).toSeq: _*))
      .count()
    assert(scannedRows == 5L, s"nprobe=1 of 4 cells must scan 5 of 20 rows, got $scannedRows")
  }
}
