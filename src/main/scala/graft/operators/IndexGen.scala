package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession

/** GENERATIONED index layout — one atomic-publish scheme for the whole
  * prebuilt-index family ([[AnnIndex]], [[SemanticIndex]], the
  * [[graft.examples.DailyCrawlExample]] dedup/LM artifact set). The
  * r12 state had the crash-safe two-rename swap only inside
  * [[AnnIndex.vacuum]]; every other compaction overwrote its parquet
  * dirs IN PLACE, so a reader that loaded an index while a recompact
  * was running could read a torn mix of old and new files (or a
  * mid-overwrite empty dir). This object generalizes the swap:
  *
  * {{{
  *   indexDir/
  *     gen-00001/            <- immutable payload (corpus/, lm/, ...)
  *       _COMMITTED          <- marker, created LAST by promote
  *     gen-00002/
  *     MANIFEST              <- text file naming the live generation
  *     MANIFEST.prev         <- previous live (reader fallback window)
  * }}}
  *
  * Writers [[begin]] a fresh generation dir, write the ENTIRE payload
  * into it (never touching standing generations), then [[promote]]:
  * commit marker → manifest two-rename (`MANIFEST` → `MANIFEST.prev`,
  * `MANIFEST.tmp` → `MANIFEST` — never a delete-then-create, so there
  * is no no-manifest window a crash can widen) → garbage-collect all
  * generations except the new live and its predecessor. Readers
  * [[live]]-resolve once at load; the generation they resolve is
  * immutable-by-rewrite (append-only extension like
  * [[AnnIndex.add]] is safe: a captured file listing never sees a
  * standing file change), so a Model loaded at generation N returns
  * identical results while a concurrent compaction writes N+1 — and
  * survives ONE promote, because GC keeps the predecessor. Re-load
  * between recompactions, as with any rename-swapped table layout.
  *
  * Crash matrix: before promote → stale staging gen without
  * `_COMMITTED`, ignored by readers, GC'd by the next promote; between
  * the two manifest renames → readers fall back to `MANIFEST.prev`
  * (the old live, still on disk); after the rename, before GC → extra
  * old generations linger until the next promote. Every state is
  * re-runnable.
  */
object IndexGen {

  private val Manifest = "MANIFEST"
  private val Commit = "_COMMITTED"
  private val GenPrefix = "gen-"

  private[graft] def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Small-file I/O through the path's Hadoop FileSystem — the one copy
    * for every index and state artifact that is not a table: manifests,
    * commit markers, signature-scheme markers, fold watermarks,
    * folded-epoch marks, Bloom filter bytes. None = no file. */
  private[graft] def readBytes(f: FileSystem, p: Path): Option[Array[Byte]] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }

  /** [[readBytes]] as trimmed UTF-8 text. */
  private[graft] def readSmall(f: FileSystem, p: Path): Option[String] =
    readBytes(f, p).map(b =>
      new String(b, java.nio.charset.StandardCharsets.UTF_8).trim)

  private[graft] def writeBytes(f: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = f.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private[graft] def writeSmall(f: FileSystem, p: Path, s: String): Unit =
    writeBytes(f, p, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def genCounter(name: String): Option[Long] =
    if (name.startsWith(GenPrefix))
      name.stripPrefix(GenPrefix).toLongOption
    else None

  private def listGens(f: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(s => genCounter(s.getPath.getName).map(c => (c, s.getPath)))
      .sortBy(_._1)

  private val Claim = "_CLAIM"

  /** Start a new generation: returns the created staging dir. Nothing
    * under any standing generation is touched; the staging dir is
    * invisible to readers until [[promote]]. The counter is CLAIMED by
    * an exclusive-create marker (`_CLAIM`, overwrite=false) — two
    * concurrent writers can race `listGens`+`mkdirs` to the same
    * counter (mkdirs succeeds on an existing dir), and without the
    * claim they would interleave payload writes in ONE staging dir and
    * publish a torn generation; the claim loser moves to the next
    * counter instead. Concurrent compactions are last-promoter-wins
    * (see [[promote]]); run one maintainer per index for a
    * deterministic outcome. */
  def begin(spark: SparkSession, indexDir: String): String = {
    val (f, root) = fs(spark, indexDir)
    f.mkdirs(root)
    var next = listGens(f, root).lastOption.map(_._1).getOrElse(0L) + 1L
    while (true) {
      val gen = new Path(root, f"$GenPrefix$next%05d")
      f.mkdirs(gen)
      val claim = new Path(gen, Claim)
      try {
        f.create(claim, false).close()
        return gen.toString
      } catch {
        // only a LOST RACE advances the counter — the claim must
        // actually exist (created by the rival). Any other IO failure
        // (safe mode, permissions, quota) rethrows: retrying it would
        // loop forever, littering the root with empty staging dirs.
        case e: java.io.IOException =>
          if (f.exists(claim)) next += 1 else throw e
      }
    }
    sys.error("unreachable")
  }

  /** Publish a fully-written generation: commit marker, manifest
    * two-rename, then GC of everything but the new live and its
    * predecessor (kept for readers mid-load — see the object doc). */
  def promote(spark: SparkSession, indexDir: String, genPath: String): Unit = {
    val (f, root) = fs(spark, indexDir)
    val gen = new Path(genPath)
    require(gen.getParent == root ||
      gen.getParent.toUri.getPath == root.toUri.getPath,
      s"promote: $genPath is not a generation of $indexDir")
    // a rival promote's GC may have reaped this staging (it is
    // uncommitted with a lower counter = indistinguishable from a
    // crashed writer) — fail LOUDLY here rather than publish a
    // generation whose payload is gone. The CLAIM file is the
    // liveness token, not the dir: a reap BETWEEN two payload writes
    // leaves later writes to silently re-create the dir (create()'s
    // implicit parent mkdirs) WITHOUT the claim, so a dir-existence
    // check alone would publish that torn remnant.
    require(f.exists(new Path(gen, Claim)),
      s"promote: staging $genPath was garbage-collected by a " +
        "concurrent promote (its claim marker is gone; " +
        "last-promoter-wins); re-run the compaction")
    writeSmall(f, new Path(gen, Commit), "")
    val manifest = new Path(root, Manifest)
    val prev = new Path(root, s"$Manifest.prev")
    val tmp = new Path(root, s"$Manifest.tmp")
    writeSmall(f, tmp, gen.getName)
    // the generation readers CURRENTLY resolve — through the same
    // fallback chain as [[live]], not just the manifest: after a crash
    // between the two renames, the live generation is named only by
    // MANIFEST.prev (or, double-crash, by nothing but its commit
    // marker), and a keep-set built from the missing manifest alone
    // would GC it out from under every Model loaded from it
    val prevLive = readSmall(f, manifest)
      .orElse(readSmall(f, prev))
      .orElse(listGens(f, root).reverse.collectFirst {
        case (_, p) if p.getName != gen.getName &&
          f.exists(new Path(p, Commit)) => p.getName
      })
    if (f.exists(manifest)) {
      f.delete(prev, false)
      if (!f.rename(manifest, prev))
        throw new java.io.IOException(s"promote: could not retire $manifest")
    } else prevLive.foreach { name =>
      // crash-window repair: re-anchor MANIFEST.prev on the effective
      // live so the fallback chain stays valid for readers that load
      // during THIS promote's rename window
      writeSmall(f, prev, name)
    }
    if (!f.rename(tmp, manifest)) {
      // roll back so readers keep resolving the old live
      prevLive.foreach(_ => f.rename(prev, manifest))
      throw new java.io.IOException(s"promote: could not publish $manifest")
    }
    // GC: keep the new live + its predecessor; everything else —
    // older committed generations AND stale uncommitted stagings with
    // a lower counter (crashed writers) — goes. A staging with a
    // HIGHER counter is a concurrent in-flight writer: untouched.
    val keep = Set(gen.getName) ++ prevLive
    val newCounter = genCounter(gen.getName).getOrElse(Long.MaxValue)
    listGens(f, root).foreach { case (c, p) =>
      if (!keep.contains(p.getName) && c < newCounter) f.delete(p, true)
    }
  }

  /** Resolve the live generation's payload root: the manifest's
    * generation, falling back to `MANIFEST.prev` (mid-promote crash
    * window), then to the newest COMMITTED generation (double-crash).
    * None = no committed generation here. */
  def live(spark: SparkSession, indexDir: String): Option[String] = {
    val (f, root) = fs(spark, indexDir)
    def resolve(name: String): Option[String] = {
      val p = new Path(root, name)
      if (f.exists(p)) Some(p.toString) else None
    }
    readSmall(f, new Path(root, Manifest)).flatMap(resolve)
      .orElse(readSmall(f, new Path(root, s"$Manifest.prev")).flatMap(resolve))
      .orElse(listGens(f, root).reverse
        .find { case (_, p) => f.exists(new Path(p, Commit)) }
        // re-anchor on the caller's root so the returned path carries
        // the same scheme/prefix as the manifest-resolved branch
        // (listStatus qualifies paths with file:/ etc.)
        .map { case (_, p) => new Path(root, p.getName).toString })
  }

  /** [[live]] for writers/readers that require an index to exist. */
  def liveRequired(spark: SparkSession, indexDir: String): String =
    live(spark, indexDir).getOrElse(
      throw new IllegalStateException(
        s"$indexDir has no committed generation"))
}
