package graft

import graft.examples.MultiModalCurationExample
import graft.operators.{Curation, CurationStream}
import graft.queries.LlmOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._


/** The streaming curation twin's contract: the SAME corpus through
  * id-hashed micro-batches — gates, dedup-edge generation and media
  * signatures computed per epoch against accumulated state, one
  * consolidation at the end — must produce EXACTLY the batch
  * composition's output, and every epoch must be replay-idempotent.
  */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def collectRows(df: DataFrame): Seq[Row] =
    df.orderBy("doc_id").collect().toSeq

  private def ingest(stateDir: String, part: Seq[(Long, String)], e: Long): Unit = {
    val b = part.toDF("doc_id", "text")
    val ids = b.select(col("doc_id")).filter(col("doc_id") < 2000)
    CurationStream.ingestEpoch(b,
      MultiModalCurationExample.epochImages(ids),
      MultiModalCurationExample.epochHashClips(ids),
      stateDir, e)
  }

  test("batch == stream: the multi-epoch run reproduces the batch composition row for row") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batchOut = collectRows(LlmOps.mmCuration(spark, dir))
    val streamOut = collectRows(LlmOps.mmCurationStream(spark, dir))
    assert(streamOut.size == batchOut.size,
      s"stream produced ${streamOut.size} rows vs batch ${batchOut.size}")
    assert(streamOut == batchOut, {
      val diff = streamOut.toSet.diff(batchOut.toSet).take(3)
      val miss = batchOut.toSet.diff(streamOut.toSet).take(3)
      s"stream-only: $diff; batch-only: $miss"
    })
    // the funnel actually dropped something (a vacuous equality on the
    // identity pipeline would pin nothing)
    assert(batchOut.size < docs.count(),
      "fixture must exercise the funnel (gates/dedup/media lanes)")
  }

  test("signature-scheme marker: fresh state is stamped; pre-marker and mismatched state are refused") {
    val part = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6))
    // fresh dir: first ingest stamps the marker, a second ingest accepts it
    val fresh = java.nio.file.Files.createTempDirectory("graft-cstream-sigv").toString
    ingest(fresh, part, 0L)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$fresh/_sig_version")).trim
      == CurationStream.SigVersion.toString)
    ingest(fresh, part, 1L) // no throw: marker matches
    // mismatched marker (a state dir written by a FUTURE scheme): refused.
    // The raw rewrite bypasses Hadoop's ChecksumFileSystem, so its crc
    // shadow must go too or the READ fails on checksum, not content
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$fresh/._sig_version.crc"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$fresh/_sig_version"), "99\n")
    val e1 = intercept[IllegalArgumentException] { ingest(fresh, part, 2L) }
    assert(e1.getMessage.contains("scheme v99"))
    // pre-marker state (tables exist, no marker — the pre-r17 on-disk
    // shape): refused rather than silently mixing signature schemes
    val old = java.nio.file.Files.createTempDirectory("graft-cstream-sigv1").toString
    ingest(old, part, 0L)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$old/_sig_version"))
    val e2 = intercept[IllegalArgumentException] { ingest(old, part, 1L) }
    assert(e2.getMessage.contains("predates"))
  }

  test("a replayed epoch overwrites its own state byte-identically — even after later epochs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq
    val byEpoch = (0 until 4).map(e =>
      docs.filter(r => java.lang.Math.floorMod(r._1, 4L) == e))
    val root = java.nio.file.Files.createTempDirectory("graft-cstream-replay").toString
    val state = s"$root/state"
    byEpoch.zipWithIndex.foreach { case (part, e) => ingest(state, part, e) }
    val before = collectRows(CurationStream.finalizeCorpus(spark, state))
    assert(before.nonEmpty)
    // the Structured Streaming failure contract: a batch re-runs with
    // the SAME epoch id after a crash — here long after epochs 2..3
    // committed. Cross-epoch inputs are bounded `__epoch < e`, so the
    // replay regenerates identical partitions and the corpus must not
    // move (no duplicate edges at the row level, no lost losers).
    ingest(state, byEpoch(1), 1L)
    val after = collectRows(CurationStream.finalizeCorpus(spark, state))
    assert(after == before, "replayed epoch changed the consolidated corpus")
    // and state-table row counts are unchanged (overwrite, not append)
    Seq("gated", "edges", "img_losers", "aud_losers").foreach { t =>
      val n1 = spark.read.parquet(s"$state/$t").count()
      ingest(state, byEpoch(1), 1L)
      val n2 = spark.read.parquet(s"$state/$t").count()
      assert(n1 == n2, s"$t grew on replay: $n1 -> $n2")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("epoch compaction bounds the state layout; replays across the fold are no-ops") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq
    val byEpoch = (0 until 4).map(e =>
      docs.filter(r => java.lang.Math.floorMod(r._1, 4L) == e))
    val root = java.nio.file.Files.createTempDirectory("graft-cstream-compact").toString
    val state = s"$root/state"
    def epochDirs(t: String): Set[String] = {
      val d = new java.io.File(s"$state/$t")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("__epoch=")).toSet
    }

    // mid-stream fold: epochs 0-1 land, fold them, then epochs 2-3
    // ingest AGAINST the compacted generation (the steady-state shape)
    ingest(state, byEpoch(0), 0L)
    ingest(state, byEpoch(1), 1L)
    val preFoldCorpus = collectRows(CurationStream.finalizeCorpus(spark, state))
    CurationStream.compactState(spark, state, uptoEpoch = 2L)
    assert(CurationStream.foldWatermark(spark, state) == 2L)
    // folded live partitions are retired; the compacted generation is
    // the only copy
    Seq("gated", "edges", "bands").foreach { t =>
      assert(epochDirs(t).isEmpty, s"$t kept folded live partitions: ${epochDirs(t)}")
    }
    // the fold is invisible to the consolidation
    assert(collectRows(CurationStream.finalizeCorpus(spark, state)) == preFoldCorpus,
      "compaction changed the consolidated corpus")

    ingest(state, byEpoch(2), 2L)
    ingest(state, byEpoch(3), 3L)
    val full = collectRows(CurationStream.finalizeCorpus(spark, state))
    assert(full.nonEmpty && full.size > preFoldCorpus.size)
    // the reference: the same four epochs with no fold at all
    val refRoot = java.nio.file.Files.createTempDirectory("graft-cstream-nofold").toString
    val refState = s"$refRoot/state"
    byEpoch.zipWithIndex.foreach { case (part, e) => ingest(refState, part, e.toLong) }
    assert(full == collectRows(CurationStream.finalizeCorpus(spark, refState)),
      "mid-stream compaction changed the corpus vs the unfolded run")

    // a replay of a FOLDED epoch (stream restarted from a pre-fold
    // checkpoint) is a no-op: no live partition reappears, corpus unmoved
    ingest(state, byEpoch(1), 1L)
    Seq("gated", "edges", "bands").foreach { t =>
      assert(!epochDirs(t).contains("__epoch=1"),
        s"folded replay re-created a live partition in $t")
    }
    assert(collectRows(CurationStream.finalizeCorpus(spark, state)) == full,
      "folded-epoch replay changed the corpus")
    // a replay of an UNFOLDED epoch still overwrites idempotently
    ingest(state, byEpoch(2), 2L)
    assert(collectRows(CurationStream.finalizeCorpus(spark, state)) == full,
      "unfolded-epoch replay changed the corpus")

    // second fold over everything: idempotent on re-run, corpus unmoved
    CurationStream.compactState(spark, state, uptoEpoch = 4L)
    CurationStream.compactState(spark, state, uptoEpoch = 4L)
    assert(CurationStream.foldWatermark(spark, state) == 4L)
    assert(collectRows(CurationStream.finalizeCorpus(spark, state)) == full,
      "second compaction changed the corpus")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(refRoot))
  }

  test("a failed lane write surfaces as is; no sibling writes to __epoch=N after it; a replay heals") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .filter(col("doc_id") < 400)
      .as[(Long, String)].collect().toSeq
    val byEpoch = (0 until 2).map(e =>
      docs.filter(r => java.lang.Math.floorMod(r._1, 2L) == e))
    val root = java.nio.file.Files.createTempDirectory("graft-cstream-lane")
    // unfaulted reference; its epoch-1 ingest bounds every lane's jobs
    val ref = s"$root/ref"
    ingest(ref, byEpoch(0), 0L)
    val t0 = System.nanoTime()
    ingest(ref, byEpoch(1), 1L)
    val epochMs = (System.nanoTime() - t0) / 1000000L

    val state = s"faulty://$root/state"
    ingest(state, byEpoch(0), 0L)
    // the image lane's state writes fail; the text and audio lanes are
    // untouched by the injector and would run on if not stopped
    FaultInjector.arm(0, kill = false, only = _.toString.contains("/img_sigs"))
    val thrown =
      try intercept[Throwable](ingest(state, byEpoch(1), 1L))
      finally FaultInjector.disarm()
    assert(FaultInjector.isInjected(thrown), s"not the injected failure: $thrown")

    val tables = Seq("gated", "edges", "bands", "img_sigs", "img_losers",
      "aud_sigs", "aud_losers")
    // listed through faulty:// itself
    def epochFiles(): Set[(String, Long, Long)] = tables.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$state/$t/__epoch=1")
      val fs = p.getFileSystem(hc)
      if (!fs.exists(p)) Nil
      else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toList
      }
    }.toSet
    val atFailure = epochFiles()
    assert(atFailure.exists(_._1.contains("/gated/")),
      "the serial gated write precedes the lanes")
    Thread.sleep(math.max(epochMs, 2000L))
    assert(epochFiles() == atFailure, "a sibling lane wrote after the failure surfaced")

    // the disarmed replay of epoch 1 yields the unfaulted state
    ingest(state, byEpoch(1), 1L)
    tables.foreach { t =>
      val (a, b) = (CurationStream.stateTable(spark, state, t),
        CurationStream.stateTable(spark, ref, t))
      assert(a.isDefined == b.isDefined, t)
      a.zip(b).foreach { case (x, y) =>
        val cols = y.columns.sorted.map(col).toSeq
        val (xs, ys) = (x.select(cols: _*), y.select(cols: _*))
        assert(xs.count() == ys.count() && xs.exceptAll(ys).isEmpty &&
          ys.exceptAll(xs).isEmpty, s"$t differs from the unfaulted run")
      }
    }
    assert(collectRows(CurationStream.finalizeCorpus(spark, state)) ==
      collectRows(CurationStream.finalizeCorpus(spark, ref)))
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("inParallel: the first lane failure cancels sibling jobs and is rethrown as is") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    // the sleeper is listed first: awaiting lanes in order must not
    // hold the failure back behind it
    val thrown = intercept[IllegalStateException] {
      CurationStream.inParallel(Seq(
        "sleeper" -> (() => {
          // cancelled tasks are interrupted, so they free the shared
          // session's slots at once
          sc.setInterruptOnCancel(true)
          sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(30000))
        }),
        "boom" -> (() => throw boom)))(spark)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom)
    assert(secs < 15, s"inParallel returned after $secs s")
    // the job end reaches the status store through the listener bus
    org.apache.spark.graft.ListenerBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
  }
}
