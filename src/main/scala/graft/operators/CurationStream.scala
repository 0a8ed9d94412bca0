package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING cross-modality curation — the flagship composition run as
  * an unbounded pipeline (reference thesis: one pipeline, bounded or
  * unbounded — `README.md:29` — applied to the whole curation path).
  * Micro-batches of mixed-modality documents are curated against
  * ACCUMULATED prebuilt state, and the final corpus hash-equals the
  * batch [[Curation.curate]]-based funnel on the same documents (gate
  * `mm_curation_stream` pins it against the `mm_curation` oracle).
  *
  * Why batch == stream holds EXACTLY (the construction, not luck):
  *
  *  - Scalar gates are per-row ⇒ identical per micro-batch.
  *  - Dedup becomes ONE undirected edge graph — exact-duplicate edges
  *    (equal [[Text.fingerprint]]) plus jaccard-verified MinHash-LSH
  *    edges over ALL gated docs — and the final survivors are the
  *    graph's min-id component roots. This equals the batch funnel's
  *    "exact dedup THEN near-dup components over survivors": an exact
  *    dup carries its canonical's exact shingle set, minhash signature
  *    and band values, so every edge incident to a dup is mirrored by
  *    an edge on its canonical — the union graph merges exactly the
  *    components the batch pipeline merges, and component minima are
  *    unchanged because a dup's id is never below its canonical's.
  *  - Edges are DISCOVERY-ORDER-INDEPENDENT: a cross-epoch pair is
  *    generated once, when its later doc's batch joins the accumulated
  *    banded index (`__epoch < current` — a time-invariant input set,
  *    so a REPLAYED epoch regenerates byte-identical state); pairs
  *    within an epoch come from the same first-matching-band self-join
  *    [[Dedup.minhashLsh]] uses. Components over the union of per-epoch
  *    edge sets equal components over the batch pair set.
  *  - Media lanes accumulate sign-bit signatures the same way; the
  *    loser sets (larger id of any surviving pair, distinct) are pair-
  *    set functions, so they too are discovery-order-independent.
  *  - Nothing is emitted early: [[finalizeCorpus]] is the one
  *    consolidation pass (components → redact → tokens → split →
  *    anti-join media losers), running on dup-rate-sized edge/loser
  *    state plus the staged gated docs — no re-decode, no re-shingle.
  *
  * Replay idempotency is the [[AnnIndex.addEpoch]] story: every state
  * table is `__epoch`-partitioned and written with DYNAMIC partition
  * overwrite, so a micro-batch replayed after a failure overwrites its
  * own partitions with byte-identical content instead of appending
  * duplicates (CurationStreamSpec pins this with a mid-stream replay).
  *
  * Scale shape (the 100 TB contract): per-epoch work is batch-sized —
  * gates codegen'd on the batch, one shingle→signature pass, media
  * decode once per blob — plus banded equi-joins against the
  * accumulated index on (band, sig) keys. The accumulated tables play
  * the role of [[graft.examples.DailyCrawlExample]]'s compacted index:
  * [[compactState]] periodically folds all epochs below a watermark
  * into one [[IndexGen]] generation, each table clustered by its probe
  * key, so the per-epoch listings and file counts stay BOUNDED at any
  * stream horizon instead of growing one partition-set per epoch (at
  * cluster scale the same fold lands BUCKETED catalog tables,
  * `compactCorpusBucketed`, so only the batch side shuffles). Within
  * an epoch nothing forces a partitioning: batches are batch-sized, so
  * exchange placement and post-shuffle partition counts are left to
  * AQE (the per-epoch job count, not data volume, dominates at micro-
  * batch granularity — pre-sizing exchanges for corpus scale here
  * would multiply tiny files and empty tasks per epoch).
  * Consolidation touches full text ONCE (the staged gated docs) and
  * otherwise runs on signatures and edges.
  */
object CurationStream {

  private val Epoch = "__epoch"
  private val CompactedRoot = "__compacted"
  private val WatermarkFile = "_folded_epoch_watermark"

  /** Signature-scheme version of the accumulated dedup index:
    * 2 = the minhash permutation input is [[graft.functions.Text.shingleKey]]'s
    * decimal string (r17, byte-stable shingle exchange); 1 = pre-r17
    * raw shingle strings. Band signatures of DIFFERENT schemes are
    * mutually meaningless md5s — a stream resumed across the scheme
    * change would silently lose every cross-version near-dup edge, so
    * [[ingestEpoch]] stamps `_sig_version` into fresh state dirs and
    * fails loudly on a mismatch OR on pre-marker state (state tables
    * present with no marker = written before the marker existed =
    * scheme 1). The [[graft.streaming.Streams]] `SessionsAcc.unitVersion`
    * idea applied to this state family. */
  val SigVersion = 2
  private val SigVersionFile = "_sig_version"

  /** Marker I/O, one copy (shared by [[checkSigVersion]] and
    * [[migrateSigState]] — the IndexGen readSmall/writeSmall idea):
    * None = no marker on disk. */
  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
                         marker: org.apache.hadoop.fs.Path): Option[Int] =
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
      finally in.close()
    }

  private def stampMarker(fs: org.apache.hadoop.fs.FileSystem,
                          marker: org.apache.hadoop.fs.Path): Unit = {
    val out = fs.create(marker, true)
    try out.write(s"$SigVersion\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def checkSigVersion(spark: SparkSession, stateDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$stateDir/$SigVersionFile")
    readMarker(fs, marker) match {
      case Some(v) =>
        require(v == SigVersion,
          s"dedup state at $stateDir carries signature scheme v$v; this build " +
            s"writes v$SigVersion — band signatures across schemes never match " +
            "(silent near-dup recall loss). Run migrateSigState(spark, " +
            "stateDir) — it recomputes the band signatures from the STAGED " +
            "gated text already in the state (no raw re-ingest, no media " +
            "re-decode, no re-gating) — or pin the library version that " +
            "wrote it.")
      case None =>
        // no marker: EITHER a fresh dir (stamp it) or state written
        // before the marker existed (= scheme 1: refuse — proceeding
        // would mix signature schemes silently)
        val hasState = StateTables.exists { case (t, _) =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/$t")) } ||
          fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/$CompactedRoot"))
        require(!hasState,
          s"dedup state at $stateDir predates the signature-scheme marker " +
            s"(scheme 1, raw-shingle signatures); this build writes v$SigVersion " +
            "— run migrateSigState(spark, stateDir): it recomputes the band " +
            "signatures from the STAGED gated text already in the state (no " +
            "raw re-ingest).")
        stampMarker(fs, marker)
    }
  }

  /** Every state table with the key its accumulated side is PROBED on
    * (the per-epoch join / consolidation anti-join key) — the clustering
    * key [[compactState]] lays the folded generation out by. */
  private val StateTables: Seq[(String, Seq[String])] = Seq(
    "gated" -> Seq("doc_id"), "edges" -> Seq("id_a"),
    "bands" -> Seq("band", "sig"),
    "img_sigs" -> Seq("band", "bv"), "img_losers" -> Seq("doc_id"),
    "aud_sigs" -> Seq("band", "bv"), "aud_losers" -> Seq("doc_id"))

  /** Run independent state-lane thunks CONCURRENTLY from the driver
    * (r20, guide §2.6 — overlap independent jobs): at micro-batch
    * granularity the per-epoch wall is dominated by JOB COUNT — each
    * tiny AQE stage pays serial driver/scheduler/commit latency, not
    * task time (r19 profile: finalize ran 39 jobs for 2.7
    * task-SECONDS) — so running the text/img/aud lanes (and the fold's
    * per-table writes) through a small pool lets one lane's scheduling
    * gaps be back-filled by another's tasks. FIFO scheduling keeps the
    * back-fill behavior; results are unchanged because the thunks
    * touch disjoint state tables.
    *
    * Failure: every lane's jobs carry a fresh per-call job tag (a tag,
    * not a job group: lanes must keep inheriting the streaming query's
    * group, which stop() cancels). The first failure cancels the tag's
    * jobs; every lane is awaited before the original exception is
    * rethrown unwrapped, so foreachBatch's replay of the epoch never
    * overlaps a sibling lane still writing the same state partitions. */
  private[graft] def inParallel(work: Seq[(String, () => Unit)])
                               (implicit spark: SparkSession): Unit =
    if (work.size <= 1) work.foreach(_._2())
    else {
      import java.util.concurrent._
      val sc = spark.sparkContext
      val tag = s"graft-cs-${java.util.UUID.randomUUID()}"
      val failure = new atomic.AtomicReference[Throwable]()
      // a pool per call, not a shared one: pool threads copy the
      // caller's local properties (job group, tags, tracing spans) only
      // when they are created, so a long-lived pool would run later
      // calls' lanes under the first caller's properties
      val pool = Executors.newFixedThreadPool(work.size)
      val futs = work.map { case (label, w) =>
        pool.submit(new Callable[Unit] {
          override def call(): Unit = {
            // per-lane job label (thread-local — exactly why the
            // guide §1.5 labels matter here: the UI/listeners can
            // attribute each concurrent lane's jobs)
            sc.setJobDescription(s"graft-cs:$label")
            sc.addJobTag(tag)
            try w()
            catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
            finally { sc.removeJobTag(tag); sc.setJobDescription(null) }
          }
        })
      }
      try {
        // after a failure keep cancelling: a sibling may submit its next
        // job after the first cancel went out
        futs.foreach { f =>
          while (!f.isDone) {
            if (failure.get != null) sc.cancelJobsWithTag(tag)
            try f.get(100, TimeUnit.MILLISECONDS)
            catch { case _: TimeoutException | _: ExecutionException => }
          }
        }
        Option(failure.get).foreach(e => throw e)
      } finally {
        if (!futs.forall(_.isDone)) sc.cancelJobsWithTag(tag)
        pool.shutdown()
        pool.awaitTermination(10, TimeUnit.MINUTES)
      }
    }

  private def writeEpoch(df: DataFrame, dir: String, epochId: Long): Unit =
    // coalesce: state tables are batch-sized (gated docs, dup-rate
    // edges, signature rows) — a handful of files per epoch keeps the
    // accumulated-table listings and the per-write commit cheap; at
    // cluster scale the epoch payload is bigger and the coalesce width
    // scales with it, not with the default shuffle width
    df.coalesce(4)
      .withColumn(Epoch, lit(epochId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(Epoch)
      .parquet(dir)

  /** Schema memo for state-table reads (r19, guide §1.2 per-task →
    * per-JOB overhead): every schema-less `spark.read.parquet` runs a
    * footer-inference JOB (~0.2–0.4 s of serial driver+scheduler time
    * on an idle host, worse on a churned scratch FS), and one ingest
    * epoch reads 4+ state tables, a fold 7, the consolidation 7–14 —
    * measured 20+ pure-inference jobs per gate run. The schema of a
    * state-table DIRECTORY never changes after its first write, so the
    * first inferred read's schema is reused for every later read of
    * the same dir. Keyed by directory path; entries are dropped with
    * the map when it outgrows the cap (temp state dirs accumulate keys
    * across a long driver session — the cap bounds that, and a clear
    * only costs re-inference). This memoizes METADATA only — no rows,
    * no results — so bench/oracle runs still compute everything from
    * the parquet inputs. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def readStateDir(spark: SparkSession, dir: String): DataFrame =
    Option(schemaMemo.get(dir)) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None =>
        val df = spark.read.parquet(dir)
        if (schemaMemo.size > 4096) schemaMemo.clear()
        schemaMemo.put(dir, df.schema)
        df
    }

  /** The RECENT (not-yet-folded) epochs of one state table, raw from
    * its `__epoch=`-partitioned tree. None when the tree has no epoch
    * partitions (nothing written, or everything folded and retired). */
  private def rawTable(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith(s"$Epoch=")))
      Some(readStateDir(spark, dir))
    else None
  }

  /** The folded-epoch watermark: every epoch STRICTLY BELOW it lives in
    * the compacted generation (and only there — its live partition dirs
    * are retired after the fold promotes). 0 until the first
    * [[compactState]]. The [[AnnIndex]] folded-epoch-marks idea with a
    * single monotonic bound: one stream feeds one state dir, so a
    * per-stream map degenerates to one number. */
  def foldWatermark(spark: SparkSession, stateDir: String): Long =
    IndexGen.live(spark, s"$stateDir/$CompactedRoot").map { gen =>
      val p = new org.apache.hadoop.fs.Path(s"$gen/$WatermarkFile")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L
      else {
        val in = fs.open(p)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    }.getOrElse(0L)

  /** One state table of the live compacted generation, if present. */
  private def compactedTable(spark: SparkSession, stateDir: String,
                             table: String): Option[DataFrame] =
    IndexGen.live(spark, s"$stateDir/$CompactedRoot").flatMap { gen =>
      val p = new org.apache.hadoop.fs.Path(s"$gen/$table")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(readStateDir(spark, p.toString)) else None
    }

  /** The accumulated state table STRICTLY BEFORE `epochId` — the
    * time-invariant read that makes replays deterministic: compacted
    * generation (epochs below the fold watermark, `__epoch` kept as a
    * data column so the bound still applies exactly) ∪ recent live
    * epoch partitions in `[watermark, epochId)`. The watermark lower
    * bound on the live side also EXCLUDES stale partition dirs a
    * crashed post-promote cleanup left behind — they can never be
    * double-counted. None when no source has rows yet (first epoch). */
  private def accBefore(spark: SparkSession, stateDir: String, table: String,
                        epochId: Long): Option[DataFrame] = {
    val w = foldWatermark(spark, stateDir)
    val live = rawTable(spark, s"$stateDir/$table")
      .map(_.filter(col(Epoch) >= w && col(Epoch) < epochId))
    val compacted = compactedTable(spark, stateDir, table)
      .map(_.filter(col(Epoch) < epochId))
    (compacted, live) match {
      case (Some(c), Some(l)) =>
        Some(c.unionByName(l.select(c.columns.map(col).toSeq: _*)).drop(Epoch))
      case (c, l) => c.orElse(l).map(_.drop(Epoch))
    }
  }

  /** Consumer/diagnostic read of one accumulated state table — the
    * compacted generation ∪ all live epochs, `__epoch` dropped; None
    * when the table has no rows anywhere. The same read every consumer
    * of the state uses, so tests and tooling see exactly what
    * [[finalizeCorpus]] sees regardless of where a fold has moved the
    * rows. */
  def stateTable(spark: SparkSession, stateDir: String,
                 table: String): Option[DataFrame] =
    accBefore(spark, stateDir, table, Long.MaxValue)

  /** Fold every state epoch STRICTLY BELOW `uptoEpoch` into ONE
    * compacted [[IndexGen]] generation (r14 verdict #3 — the state
    * layout bound): without this, `__epoch=`-partitioned state grows
    * one partition-set per epoch forever, and at a year of hourly
    * micro-batches the per-epoch [[accBefore]] reads pay ~9k-partition
    * listings per table. After a fold, the accumulated side of every
    * per-epoch join is a BOUNDED number of files, each table CLUSTERED
    * by its probe key ([[StateTables]]) so the per-batch join's corpus
    * side lands pre-hashed (the [[graft.examples.DailyCrawlExample]]
    * `compactCorpusBucketed` layout idea; on a cluster with a catalog
    * the same fold writes bucketed tables — this directory form keeps
    * the state self-contained, which the crash-fuzz filesystem and
    * tmp-dir tests require).
    *
    * Replay contract: call with `uptoEpoch` ≤ the oldest epoch a
    * restarted stream could replay (a checkpoint-committed bound —
    * Structured Streaming replays at most the batch in flight, so the
    * current epoch id is always safe). A replay of a FOLDED epoch is a
    * no-op by [[ingestEpoch]]'s watermark guard, exactly the
    * [[AnnIndex.addEpoch]] folded-marks skip. Serialize folds against
    * in-flight ingests (run both from the stream's driver, between
    * micro-batches — the `foreachBatch` shape the gate uses).
    *
    * Crash matrix ([[IndexGen]]'s): an unpromoted staging fold is
    * invisible and GC'd later — re-run it; a crash after promote but
    * before the live-partition retirement leaves stale epoch dirs that
    * [[accBefore]]'s watermark filter already excludes, and the next
    * fold's retirement sweep removes them. Folding is idempotent:
    * re-running with the same `uptoEpoch` is a no-op (watermark
    * comparison), and a second fold reads compacted ∪ fresh exactly as
    * the readers do. */
  def compactState(spark: SparkSession, stateDir: String, uptoEpoch: Long): Unit = {
    val w0 = foldWatermark(spark, stateDir)
    if (uptoEpoch <= w0) return
    val root = s"$stateDir/$CompactedRoot"
    val hc = spark.sparkContext.hadoopConfiguration
    // misuse tell (warn, not throw): raising the watermark past every
    // epoch on disk makes ingestEpoch silently no-op those future
    // replays — almost always a caller bug (folding epochs that never
    // ran). Legitimate only when the trailing epochs were genuinely
    // EMPTY (an empty dynamic overwrite writes no partition dir, so an
    // empty epoch is indistinguishable from an unseen one — which is
    // also why this cannot be a hard require).
    val maxSeen = StateTables.flatMap { case (t, _) =>
      val tp = new org.apache.hadoop.fs.Path(s"$stateDir/$t")
      val fs = tp.getFileSystem(hc)
      if (!fs.exists(tp)) Nil
      else fs.listStatus(tp).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$Epoch="))
        .flatMap(_.stripPrefix(s"$Epoch=").toLongOption)
    }.maxOption.getOrElse(w0 - 1)
    if (uptoEpoch > math.max(w0, maxSeen + 1))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"compactState($stateDir): uptoEpoch $uptoEpoch exceeds the " +
          s"highest epoch on disk ($maxSeen) + 1 — replays of the unseen " +
          s"epochs below the new watermark will be no-ops; only correct " +
          s"if those epochs were genuinely empty")
    val gen = IndexGen.begin(spark, root)
    // per-table fold writes run CONCURRENTLY (r20, guide §2.6 — same
    // rationale as ingestEpoch's lanes): the 7 repartition+sort+write
    // jobs read disjoint source trees and write disjoint staging dirs,
    // and a fold's wall at micro-batch scale is job latency, not data
    inParallel(StateTables.map { case (t, keys) => s"fold:$t" -> (() => {
      // presence IS non-emptiness (r19 — this replaces a per-table
      // isEmpty ACTION per fold): a live `__epoch=N` partition dir only
      // exists when epoch N committed ≥ 1 row (a zero-row dynamic
      // overwrite writes no partition dir — the invariant writeEpoch's
      // own docs rely on), and a compacted table is only written when
      // non-empty (the guard below maintains it). So "any in-range
      // epoch dir present" decides the fresh side from the listing
      // already in hand, no job.
      val tp = new org.apache.hadoop.fs.Path(s"$stateDir/$t")
      val fs = tp.getFileSystem(hc)
      val freshInRange = fs.exists(tp) &&
        fs.listStatus(tp).exists { s =>
          s.getPath.getName.startsWith(s"$Epoch=") &&
            s.getPath.getName.stripPrefix(s"$Epoch=").toLongOption
              .exists(e => e >= w0 && e < uptoEpoch)
        }
      val fresh =
        if (!freshInRange) None
        else rawTable(spark, s"$stateDir/$t")
          .map(_.filter(col(Epoch) >= w0 && col(Epoch) < uptoEpoch))
      val all = (compactedTable(spark, stateDir, t), fresh) match {
        case (Some(c), Some(f)) =>
          Some(c.unionByName(f.select(c.columns.map(col).toSeq: _*)))
        case (c, f) => c.orElse(f)
      }
      // an all-epochs-empty table stays ABSENT in the generation (a
      // zero-row clustered overwrite would leave a footer-less dir
      // that bricks the read — the AnnIndex.vacuum lesson); readers
      // treat a missing table as the empty frame
      all.foreach { df =>
        df.repartition(keys.map(col): _*)
          .sortWithinPartitions(keys.map(col): _*)
          .write.mode("overwrite").parquet(s"$gen/$t")
      }
    }) })(spark)
    // the watermark is part of the payload — it lands before promote,
    // so a reader never sees a generation without its fold bound
    val genFs = new org.apache.hadoop.fs.Path(gen).getFileSystem(hc)
    val out = genFs.create(
      new org.apache.hadoop.fs.Path(s"$gen/$WatermarkFile"), true)
    try out.write(uptoEpoch.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    IndexGen.promote(spark, root, gen)
    // retire the folded live partitions (post-promote GC — crash-safe,
    // see the matrix above)
    StateTables.foreach { case (t, _) =>
      val tp = new org.apache.hadoop.fs.Path(s"$stateDir/$t")
      val fs = tp.getFileSystem(hc)
      if (fs.exists(tp))
        fs.listStatus(tp).map(_.getPath)
          .filter { p =>
            p.getName.startsWith(s"$Epoch=") &&
              p.getName.stripPrefix(s"$Epoch=").toLongOption.exists(_ < uptoEpoch)
          }
          .foreach(fs.delete(_, true))
    }
  }

  /** One-pass signature-scheme migration of a standing state dir (r17
    * verdict #1 — the cheapest valid remedy the version guard names):
    * the `bands` table is the ONLY state whose rows are a function of
    * the shingle scheme, and it is a pure PER-DOC function of the
    * staged gated text — which the state already carries in full (the
    * `gated` table retains text because [[finalizeCorpus]] emits it).
    * So a scheme upgrade recomputes band signatures from STAGED text:
    * no raw re-ingest of the source corpus, no media re-decode, no
    * re-gating — at the 100 TB design point, a signature pass over the
    * survivors vs days of full pipeline replay.
    *
    * What is (correctly) left untouched: `gated` (scheme-independent),
    * `edges` (jaccard-VERIFIED pairs — true near-dups under any
    * scheme; both schemes are equal-recall approximations, so edges
    * found under the old scheme stay valid facts), `img_*`/`aud_*`
    * (pixel/audio-derived, no text shingles anywhere).
    *
    * Covers both state generations: live `__epoch=` partitions are
    * rebuilt in place via dynamic partition overwrite (each banded row
    * keeps its doc's epoch, so [[ingestEpoch]]'s time-invariant
    * [[accBefore]] reads are unchanged); a compacted generation is
    * rebuilt through the existing [[IndexGen]] fold machinery — a NEW
    * generation with `bands` recomputed and every other table carried
    * over re-clustered, promoted atomically. Crash-safe the same way
    * ingest and folds are: an interrupted migration leaves either the
    * old marker (re-run migrates again — idempotent; already-current
    * state is a no-op) or an unpromoted staging generation (invisible,
    * GC'd by the next fold).
    *
    * Contract (spec-pinned in MigrationSpec): migrated `bands` rows
    * are VALUE-EQUAL to what a current-version ingest of the same
    * gated docs writes (one shared copy of the signature arithmetic —
    * sigOf/bandedOf), so the state resumes exactly as a
    * current-version state with the same tables would. One honest
    * nuance on `edges`: pairs DISCOVERED under the old scheme are
    * retained (they are exact-jaccard-VERIFIED true near-dups — valid
    * facts under any scheme), and since the two schemes are
    * independent equal-recall hash families, a v1-found borderline
    * pair might not have been re-found by a v2-from-scratch run (and
    * vice versa). Migrated state is therefore equivalent-or-better in
    * dedup recall vs re-ingesting from scratch, not bit-identical to
    * it; the MigrationSpec hash-equality holds because its three
    * state dirs share identically-generated edges and differ only in
    * the bands scheme — the seam under test. */
  def migrateSigState(spark: SparkSession, stateDir: String,
                      cfg: Curation.Config = Curation.Config()): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(s"$stateDir/$SigVersionFile")
    val fs = marker.getFileSystem(hc)
    readMarker(fs, marker) match {
      case Some(SigVersion) => return // already current: idempotent no-op
      case Some(v) =>
        require(v < SigVersion,
          s"state at $stateDir carries scheme v$v, NEWER than this build's " +
            s"v$SigVersion — migration only goes forward; use the library " +
            "version that wrote it")
      case None => // pre-marker (scheme 1) state: migrate and stamp
    }
    def rebuiltBands(gated: DataFrame): DataFrame = {
      // banded rows are per-doc: one pass rebuilds every epoch at once,
      // each row re-attached to its doc's epoch (doc_ids are unique
      // across the accumulated state — replays overwrite their epoch)
      val epochs = gated.select(col("doc_id").as("__mid"), col(Epoch))
      bandedOf(sigOf(gated.drop(Epoch), cfg), cfg)
        .join(epochs, col("id") === col("__mid")).drop("__mid")
    }
    // live epochs: dynamic overwrite replaces exactly the rebuilt ones.
    // repartition(__epoch) bounds the per-epoch file count the same way
    // writeEpoch's coalesce(4) does (each epoch's rows land in one
    // task → one file per partition dir, not one per shuffle task) —
    // accBefore's per-micro-batch listings must stay cheap after a
    // migration, exactly as after an ingest
    rawTable(spark, s"$stateDir/gated").foreach { g =>
      rebuiltBands(g).repartition(col(Epoch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(Epoch)
        .parquet(s"$stateDir/bands")
    }
    // compacted generation: new generation via the fold machinery
    IndexGen.live(spark, s"$stateDir/$CompactedRoot").foreach { gen =>
      val root = s"$stateDir/$CompactedRoot"
      val newGen = IndexGen.begin(spark, root)
      StateTables.foreach { case (t, keys) =>
        val df =
          if (t == "bands") {
            val gp = new org.apache.hadoop.fs.Path(s"$gen/gated")
            if (fs.exists(gp))
              Some(rebuiltBands(spark.read.parquet(gp.toString)))
            else None
          } else {
            val tp = new org.apache.hadoop.fs.Path(s"$gen/$t")
            if (fs.exists(tp)) Some(spark.read.parquet(tp.toString)) else None
          }
        // same empty-table rule as compactState: zero-row tables stay
        // absent (a footer-less dir bricks the read)
        df.filter(!_.isEmpty).foreach { d =>
          d.repartition(keys.map(col): _*)
            .sortWithinPartitions(keys.map(col): _*)
            .write.mode("overwrite").parquet(s"$newGen/$t")
        }
      }
      // the fold bound is part of the payload — carry it over before
      // promote, exactly as compactState does
      val wm = new org.apache.hadoop.fs.Path(s"$gen/$WatermarkFile")
      if (fs.exists(wm)) {
        val in = fs.open(wm)
        val bytes = try in.readAllBytes() finally in.close()
        val out = fs.create(
          new org.apache.hadoop.fs.Path(s"$newGen/$WatermarkFile"), true)
        try out.write(bytes) finally out.close()
      }
      IndexGen.promote(spark, root, newGen)
    }
    // stamp LAST: a crash anywhere above leaves the old marker and a
    // re-runnable migration
    stampMarker(fs, marker)
  }

  /** Per-doc minhash signature agg over one gated set:
    * (id, n, h0..h{perms-1}). Signatures + set sizes in ONE keyed agg:
    * per-occurrence hashing (the md5 formula of
    * [[Dedup.signaturesFrom]], value-identical) beats the
    * vocabulary-distinct + join-back shape at MICRO-BATCH granularity —
    * a batch's occurrence list is near its vocabulary size, so the
    * corpus-scale vocab reuse would cost two extra exchanges per epoch
    * for nothing; `n` rides the same agg. Shared by [[ingestEpoch]]
    * and [[migrateSigState]] — ONE copy of the signature arithmetic is
    * what makes "migrated state == freshly-ingested state" hold by
    * construction. */
  private def sigOf(gated: DataFrame, cfg: Curation.Config): DataFrame = {
    val s = Stage.reuse(Dedup.shingleSet(gated, "text", "doc_id", 3))
    // r20 note: the vocab-distinct + join-back form (hash per DISTINCT
    // shingle, Dedup.signaturesFrom's corpus shape) was A/B'd here and
    // REJECTED on measurement — with the r19 graft_md5_prefix kernel
    // the per-occurrence digests cost ~1-2 task-s/epoch, while the
    // extra distinct+join exchanges added ~30 task-s/epoch (r20
    // profile, warm rounds: 64/88/62 → 94/90/118). Per-occurrence stands.
    s.groupBy("id").agg(
      count(lit(1)).as("n"),
      (0 until cfg.minhashPerms).map(i =>
        min(Text.md5Prefix(concat(lit(s"$i|"), col("sh").cast("string")), 15))
          .as(s"h$i")): _*)
  }

  /** The banded-row form of [[sigOf]]'s signatures — the `bands` state
    * table's exact schema (id, n, band, sig, before); `before` carries
    * the band signatures preceding each row's own, the exactly-once
    * first-matching-band device (see [[ingestEpoch]]). */
  private def bandedOf(sig: DataFrame, cfg: Curation.Config): DataFrame = {
    require(cfg.minhashPerms % cfg.minhashBands == 0,
      s"minhashPerms (${cfg.minhashPerms}) must divide into minhashBands (${cfg.minhashBands})")
    val rows = cfg.minhashPerms / cfg.minhashBands
    val bandSigs = (0 until cfg.minhashBands).map { b =>
      md5(concat_ws("|", (0 until rows).map(r =>
        col(s"h${b * rows + r}").cast("string")): _*))
    }
    sig.select(col("id"), col("n"), array(bandSigs: _*).as("sigs"))
      .select(col("id"), col("n"), col("sigs"),
        posexplode(col("sigs")).as(Seq("band", "sig")))
      .select(col("id"), col("n"), col("band"), col("sig"),
        slice(col("sigs"), lit(1), col("band")).as("before"))
  }

  /** One media lane's per-epoch work: sign-bit signatures of this
    * batch's centered feature vectors, ONE banded join of the batch
    * against batch ∪ accumulated (within-epoch pairs take `id_a <
    * id_b`; cross-epoch pairs take any order, normalized by
    * `greatest`), hamming-verified, reduced IMMEDIATELY to the
    * distinct loser-id set (the batch lane's `losers` shape — the
    * collapse happens at dup-rate size, so multi-band collisions need
    * no pair-level exactly-once machinery here). Writes the epoch's
    * signature rows and loser ids. */
  private def mediaLane(centered: DataFrame, stateDir: String, lane: String,
                        epochId: Long, dim: Int, bands: Int,
                        maxHamming: Int): Unit = {
    val spark = centered.sparkSession
    // Similarity.bandedRows = THE band packing hammingBandedPairs uses
    // (one copy of the arithmetic — the batch==stream equality depends
    // on it); the full signature rides along for the hamming verify
    val banded = Stage.reuse(Similarity.bandedRows(
      centered.select(col("doc_id"), Similarity.signBits(col("fv"), dim).as("sig")),
      dim, bands))
    writeEpoch(banded, s"$stateDir/${lane}_sigs", epochId)
    val own = banded.withColumn("own", lit(true))
    val bAll = accBefore(spark, stateDir, s"${lane}_sigs", epochId)
      .fold(own)(acc => own.unionByName(acc.withColumn("own", lit(false))))
    val losers = banded.as("a").join(bAll.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          when(col("b.own"), col("a.doc_id") < col("b.doc_id"))
            .otherwise(col("a.doc_id") =!= col("b.doc_id")))
      .filter(Similarity.hammingDist(col("a.sig"), col("b.sig")) <= maxHamming)
      .select(greatest(col("a.doc_id"), col("b.doc_id")).as("doc_id"))
      .distinct()
    writeEpoch(losers, s"$stateDir/${lane}_losers", epochId)
  }

  /** Ingest ONE micro-batch of documents (doc_id, text) with their
    * media blobs: apply the scalar gates, stage the survivors (with
    * their fingerprints), extend the accumulated dedup index (banded
    * minhash signatures carrying the set sizes; verify shingles are
    * re-derived from candidate docs' staged text, never persisted), and
    * write this epoch's dedup EDGES and media LOSERS. Every write is
    * epoch-keyed dynamic overwrite — the whole call is replay-
    * idempotent. */
  def ingestEpoch(batch: DataFrame, images: DataFrame, clips: DataFrame,
                  stateDir: String, epochId: Long,
                  cfg: Curation.Config = Curation.Config(),
                  foldEvery: Int = 0, foldLag: Int = 0): Unit = {
    val spark = batch.sparkSession
    // scheme guard FIRST (even for folded-epoch replays): mixing
    // signature schemes is silent recall loss, never a valid no-op
    checkSigVersion(spark, stateDir)
    // a replay of a FOLDED epoch is a no-op: its state already lives in
    // the compacted generation (whose rows the epoch-partition overwrite
    // below could not dedup against), so re-running it would double-add
    // — the [[AnnIndex.addEpoch]] folded-marks skip, single-watermark form
    if (epochId < foldWatermark(spark, stateDir)) return
    // same contract as Dedup.minhashLsh's require: a non-divisible
    // config would silently TRUNCATE permutations here while the batch
    // path throws — breaking the batch==stream hash equality. Checked
    // BEFORE any state write (fail fast, on the caller's thread).
    require(cfg.minhashPerms % cfg.minhashBands == 0,
      s"minhashPerms (${cfg.minhashPerms}) must divide into minhashBands (${cfg.minhashBands})")
    val gated = Stage.reuse(
      Curation.scalarGates(batch.select(col("doc_id"), col("text")), cfg)
        .withColumn("fp", Text.fingerprint(col("text"))))
    // the gated write stays SERIAL: it materializes the shared
    // checkpoint blocks every lane below consumes, so the lanes start
    // from staged blocks instead of racing the first materialization
    writeEpoch(gated, s"$stateDir/gated", epochId)

    // ---- text lane: exact-dup + near-dup (minhash-LSH) edges ----
    def textLane(): Unit = {
      // exact-dup edges (equal fingerprint)
      val batchCanon = gated.groupBy("fp").agg(min("doc_id").as("bmin"))
      // within-batch: every member links to its batch-group min
      val withinExact = gated.select("doc_id", "fp").join(batchCanon, "fp")
        .filter(col("doc_id") =!= col("bmin"))
        .select(least(col("bmin"), col("doc_id")).as("id_a"),
          greatest(col("bmin"), col("doc_id")).as("id_b"))
      // cross-epoch: the batch canonical links to the MIN matching prior
      // id per fingerprint (one edge suffices — earlier same-fp docs are
      // already transitively connected among themselves)
      val accGated = accBefore(spark, stateDir, "gated", epochId)
      val crossExact = accGated match {
        case None => withinExact.limit(0)
        case Some(acc) =>
          batchCanon.join(acc.select(col("fp"), col("doc_id").as("prior")), "fp")
            .groupBy("fp", "bmin").agg(min("prior").as("pmin"))
            .select(least(col("bmin"), col("pmin")).as("id_a"),
              greatest(col("bmin"), col("pmin")).as("id_b"))
      }

      // near-dup edges (minhash-LSH, jaccard-verified)
      val sig = sigOf(gated, cfg)
      // banded rows carry the set size `n` so the accumulated bands
      // table doubles as the sizes artifact (band 0 slice = (id, n)) —
      // one table, one write, no separate sizes lineage
      val banded = Stage.reuse(bandedOf(sig, cfg))
      writeEpoch(banded, s"$stateDir/bands", epochId)
      // ONE banded join of the batch against batch ∪ accumulated, both
      // sides under the minhashLsh first-matching-band rule (exactly-
      // once per pair, no distinct; both `before` slices have length =
      // band): within-epoch pairs take id_a < id_b, cross-epoch pairs
      // any order, normalized
      val accBands = accBefore(spark, stateDir, "bands", epochId)
      val own = banded.withColumn("own", lit(true))
      val bandsAll = accBands.fold(own)(acc =>
        own.unionByName(acc.withColumn("own", lit(false))))
      val cand = Stage.reuse(banded.as("a").join(bandsAll.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            when(col("b.own"), col("a.id") < col("b.id"))
              .otherwise(col("a.id") =!= col("b.id")) &&
            !Dedup.bandMatch(col("a.before"), col("b.before")))
        .select(least(col("a.id"), col("b.id")).as("id_a"),
          greatest(col("a.id"), col("b.id")).as("id_b")))
      // verify shingles are RE-DERIVED from the candidate docs' staged
      // text instead of reading back a persisted shingle long form: the
      // accumulated gated table must carry the text anyway (finalize
      // emits it), candidates are dup-rate-sized, and shingleSet is a
      // pure set function of the text — so persisting shingles would
      // store the LARGEST state table (several × the text itself) to
      // save re-deriving a tiny subset. (The batch steady-state
      // BloomDedup.lshIndex makes the opposite call because that index
      // deliberately does NOT carry text.) cand is staged: it feeds both
      // the id set and the verify join.
      val candIds = cand.select(col("id_a").as("cid"))
        .unionByName(cand.select(col("id_b").as("cid"))).distinct()
      // r20 A/B note: feeding the batch side of this verify from the
      // STAGED shingle set (join sBatch ⋈ candIds) was tried and
      // REJECTED — the 163k-row shuffle join cost far more than
      // re-deriving the candidate docs' shingles map-side with the
      // graft kernels (r20 profile, warm epochs: edges phase 2.8 → 5.5-6.6 s,
      // text-lane task-s 534 → 891). Re-derivation from text stands.
      val textAll = accGated
        .fold(gated.select(col("doc_id"), col("text")))(acc =>
          gated.select(col("doc_id"), col("text"))
            .unionByName(acc.select(col("doc_id"), col("text"))))
      val shCand = Dedup.shingleSet(
        textAll.join(candIds, textAll("doc_id") === candIds("cid"))
          .select("doc_id", "text"),
        "text", "doc_id", 3)
      // own-batch sizes from the checkpointed banded rows (band-0
      // slice = (id, n) — the same artifact the accumulated side
      // already uses) instead of re-running the signature agg (r20)
      val sizes = banded.filter(col("band") === 0).select("id", "n")
      val sizesAll = accBands.map(_.filter(col("band") === 0).select("id", "n"))
        .fold(sizes)(a => sizes.unionByName(a))
      // Dedup.verifyJaccard = minhashLsh's own verify tail (one copy of
      // the intersection join + 4-decimal rounding)
      val lshEdges = Dedup.verifyJaccard(cand, shCand, sizesAll, cfg.nearDupThreshold)
        .select("id_a", "id_b")
      writeEpoch(withinExact.unionByName(crossExact).unionByName(lshEdges),
        s"$stateDir/edges", epochId)
    }

    // ---- media lanes (the MultiModalCurationExample settings) ----
    def imgLane(): Unit = {
      val imgCentered = Stage.reuse(MultiModal.decodeFeatures(images, grid = 4)
        .select(col("doc_id"),
          transform(col("features"), f => f - lit(0.5)).as("fv")))
      mediaLane(imgCentered, stateDir, "img", epochId,
        dim = 48, bands = 6, maxHamming = 5)
    }
    def audLane(): Unit = {
      val audMean = aggregate(col("features"), lit(0d), (a, b) => a + b) / lit(32d)
      val audCentered = Stage.reuse(AudioModal.features(clips, windows = 32)
        .select(col("doc_id"),
          transform(col("features"), x => x - audMean).as("fv")))
      mediaLane(audCentered, stateDir, "aud", epochId,
        dim = 32, bands = 4, maxHamming = 0)
    }
    // the three lanes touch DISJOINT state tables and consume only the
    // already-materialized gated blocks / prior-epoch state, so they
    // run concurrently (see inParallel — the r20 jobs-per-epoch
    // optimization). Within a lane, order is unchanged; written rows
    // are byte-identical to the serial form. One caveat, documented:
    // Dedup.shared's AQE-off planning window is per-session conf, so a
    // query PLANNED in another lane during that window compiles its
    // tiny exchanges without AQE coalescing — a bounded per-epoch
    // plan-shape jitter on batch-sized data, never a semantics change
    // (the conf windows are serialized by shared's own per-session
    // lock; results are pinned by the oracle + replay spec either way).
    inParallel(Seq("text" -> (textLane _), "img" -> (imgLane _),
      "aud" -> (audLane _)))(spark)
    autoFold(spark, stateDir, epochId, foldEvery, foldLag)
  }

  /** WIRED auto-fold policy (r15 verdict #3 — cadence as policy, not
    * caller discipline): fold the state every `foldEvery` epochs, i.e.
    * at the end of each epoch with `(epochId + 1) % foldEvery == 0`,
    * with `uptoEpoch = epochId + 1 − foldLag`. [[ingestEpoch]] invokes
    * this when its `foldEvery` knob is > 0, so a production
    * `foreachBatch` driver gets bounded state layout by CONFIGURATION —
    * no manual [[compactState]] calls to remember (the gate, the fuzz
    * schedules and `graft.tools.Prof mm_curation_stream` all run
    * through this path).
    *
    * Crash window: the fold runs inside `foreachBatch`, after the
    * epoch's own writes committed but BEFORE the streaming checkpoint
    * commits the batch — a crash there replays the (now folded) epoch,
    * which [[ingestEpoch]]'s watermark guard no-ops; its state already
    * lives in the compacted generation. `foldLag` > 0 keeps the most
    * recent epochs live (smaller folds; the hot tail stays
    * epoch-partitioned), at the cost of that many extra live partition
    * sets between folds. */
  def autoFold(spark: SparkSession, stateDir: String, epochId: Long,
               foldEvery: Int, foldLag: Int = 0): Unit = {
    if (foldEvery <= 0) return
    require(foldLag >= 0, s"foldLag must be >= 0 (got $foldLag)")
    if ((epochId + 1) % foldEvery == 0) {
      val upto = epochId + 1 - foldLag
      if (upto > 0) compactState(spark, stateDir, upto)
    }
  }

  /** The ONE consolidation pass over the accumulated state: min-id
    * component roots of the edge graph survive, the corpus is redacted
    * / token-counted / split exactly as [[Curation.curate]]'s tail,
    * and each media lane's accumulated losers anti-join away. Output:
    * (doc_id, text, n_tokens, split) — hash-equal to the batch funnel
    * composed with the media lanes ([[graft.queries.LlmOps.mmCuration]]). */
  def finalizeCorpus(spark: SparkSession, stateDir: String,
                     cfg: Curation.Config = Curation.Config()): DataFrame = {
    // every read goes through the accumulated-table helper (epoch
    // bound = ∞, compacted generation ∪ recent live epochs): a table
    // whose every epoch was EMPTY has no partition dirs on disk, and a
    // raw read would throw instead of yielding the empty frame the
    // consolidation algebra handles fine
    def all(table: String): Option[DataFrame] =
      accBefore(spark, stateDir, table, Long.MaxValue)
    val gatedAll = all("gated").getOrElse(
      throw new IllegalStateException(s"$stateDir has no staged documents"))
    val noIds = gatedAll.select(col("doc_id")).limit(0)
    val edges = all("edges").getOrElse(
      noIds.select(col("doc_id").as("id_a"), col("doc_id").as("id_b")))
    // componentsStar, NOT components: the cross-epoch exact-dup edges
    // link each epoch's canonical to the MIN matching prior id, so
    // same-fingerprint docs arriving with descending ids across E
    // epochs form an id chain of length E — hash-min propagation needs
    // ~E rounds and components' diameter ceiling (maxIter=10) would
    // throw on long streams; the star alternation converges in O(log n)
    // rounds regardless of chain length, with identical min-id labels
    val dupIds = Dedup.componentsStar(edges)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    val clean = gatedAll.join(dupIds, Seq("doc_id"), "left_anti")
    val out = clean.select(
      col("doc_id"),
      Text.redactPii(col("text")).as("text"),
      Text.tokenCount(col("text")).cast("long").as("n_tokens"),
      when(Sampling.hashBucket(col("doc_id")) < cfg.testPct, "test")
        .otherwise("train").as("split"))
    def losers(lane: String): DataFrame =
      all(s"${lane}_losers").fold(noIds)(_.select("doc_id")).distinct()
    out
      .join(losers("img"), Seq("doc_id"), "left_anti")
      .join(losers("aud"), Seq("doc_id"), "left_anti")
  }
}
