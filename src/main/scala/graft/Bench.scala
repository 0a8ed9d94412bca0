package graft

import graft.core.Json
import org.apache.spark.sql.SparkSession

/** Perf harness (driver contract): runs the query corpus on
  * SPARK_GRAFT_SF_DIR at local[32] and prints ONE JSON line.
  *
  * Results are forced with a noop-format write (full materialization of
  * every output column — `count()` would let Catalyst prune the work).
  * One warm-up query absorbs JVM/codegen/parquet-footer startup so the
  * per-query numbers measure the plans, not classloading.
  */
object Bench {
  /** Where the full-fidelity artifact lands (spec-pinned; r17 verdict
    * #2). Probes (SPARK_GRAFT_BENCH_ONLY) always go to their own file;
    * full-suite runs go to the UNTRACKED BENCH_SELF_LAST.json unless
    * SPARK_GRAFT_BENCH_RECORD=1 deliberately promotes the run to the
    * committed BENCH_SELF.json record. */
  def selfFileName(probe: Boolean, record: Boolean,
                   inject: Boolean = false,
                   configArm: Boolean = false): String =
    if (probe) "BENCH_SELF_PROBE.json"
    // an injected run is a deliberately corrupted artifact (A/B
    // calibration), and a config-arm run (off-heap / tmpfs local dirs /
    // master override — r18 verdict #4/#5) measures a DIFFERENT
    // deployment bracket than the committed floors were captured under
    // — neither may become the committed record, even under a stale
    // RECORD=1 in the environment
    else if (record && !inject && !configArm) "BENCH_SELF.json"
    else "BENCH_SELF_LAST.json"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // deployment-bracket arms (r18 verdict #4/#5): SPARK_GRAFT_MASTER /
    // SPARK_GRAFT_OFFHEAP / SPARK_GRAFT_LOCAL_DIRS via the shared
    // SessionSetup. Any of them set ⇒ this run is a CONFIG ARM: the
    // artifact is stamped with the arm and hard-routed away from the
    // committed record (floors are captured under the default config)
    val masterDefault = s"local[$cpus]"
    val master = graft.core.SessionSetup.master(masterDefault)
    val configArm = graft.core.SessionSetup.isConfigArm(masterDefault)
    // FS-state marker (r18 verdict #2): a cheap write/unlink probe of
    // the scratch filesystem, stamped into the artifact BEFORE any
    // measured window. The mm/stream gates' sys-time is dominated by
    // local-dir file I/O (tmpfs A/B: −83/−91% stime), so two captures
    // on the "same" host can differ 45% purely from FS state — the
    // marker makes that divergence visible in the floors' provenance
    // instead of silently re-baselining a kernel-time floor.
    val fsProbe: (Double, Double) = {
      val dir = graft.core.SessionSetup.localDirs
        .map(_.split(',').head).getOrElse(System.getProperty("java.io.tmpdir"))
      try {
        val p = java.nio.file.Paths.get(dir, s"graft-fsprobe-${ProcessHandle.current.pid}")
        val chunk = new Array[Byte](8 << 20) // 8 MiB, 32 chunks = 256 MiB
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          var i = 0
          while (i < 32) { ch.write(java.nio.ByteBuffer.wrap(chunk)); i += 1 }
          ch.force(false)
        } finally ch.close()
        java.nio.file.Files.delete(p)
        val sec = (System.nanoTime() - t0) / 1e9
        val freeGb = new java.io.File(dir).getUsableSpace / 1e9
        (256.0 / sec, freeGb)
      } catch { case _: Throwable => (-1.0, -1.0) }
    }
    val spark = graft.core.SessionSetup(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g"),
      master).getOrCreate()
    // ERROR, not WARN: the one-line JSON below shares stdout with log4j,
    // and WindowExec emits a WARN per bounded P-row/50-row window (harmless
    // at scale but it breaks the driver's stdout parse — BENCH r1-r3 all
    // came back "parsed": null because of this spam)
    spark.sparkContext.setLogLevel("ERROR")
    // deny the known-benign post-success accumulator spam; count every
    // OTHER error-level event into the JSON so the artifact tail stays
    // pure signal (see LogHygiene)
    graft.core.LogHygiene.install()

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warm-up: touch every table once (footer reads, codegen, classloading)
    try force(SparkEntry.queries("q1_agg")(spark, sfDir)) catch { case _: Throwable => }

    // N runs per query, discard the first (it pays codegen/JIT and
    // OS page-cache warmup), min of the remainder — stabilizes the
    // number against run-to-run noise on a contended machine
    // clamped to >= 1: a malformed or non-positive override must not
    // crash the bench or emit an all--1.0 JSON that parses as plausible
    val runs = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
        .getOrElse(3))
    // drift forensics (r12 verdict #1): SPARK_GRAFT_BENCH_ORDER=desc
    // runs the corpus in REVERSE name order — if per-query times track
    // POSITION (late queries slow in both orders) the suite is leaking
    // session residue; if they track the QUERY (same times both
    // orders) the machine/session is the variable. Output artifacts
    // are order-invariant: every rung reports in sorted-name order.
    val runOrder = sys.env.getOrElse("SPARK_GRAFT_BENCH_ORDER", "asc")
    // probe filter (A/B forensics, e.g. the r13 contention root-cause):
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the corpus to the named
    // queries. Unset (the driver's path) runs everything — the official
    // artifact contract is unchanged. Unknown names fail fast, like
    // Verify's filter: a typo'd probe would otherwise measure nothing
    // and report a plausible-looking near-zero total.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      // an empty set would pass the unknown-name check vacuously and
      // run ZERO queries — emitting the plausible near-zero total this
      // guard exists to prevent
      require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but names no queries")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY: unknown queries $unknown")
    }
    val ordered = {
      val asc = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (k, _) => only.forall(_.contains(k)) }
      if (runOrder == "desc") asc.reverse else asc
    }
    // per-query session snapshots (BENCH_SELF.json only): persistent
    // RDD count + their memory footprint (dead localCheckpoint blocks
    // — the r10 residue class) and driver JVM used heap, taken AFTER
    // the query's hygiene flush. Monotonic growth across the suite =
    // residue; flat = the flush is holding.
    val snaps = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Long, Double)]
    // contention forensics (r13, closing the r12 drift question for good):
    // process-CPU seconds per query and the host 1-min load average per
    // snapshot. A query whose WALL time inflates while its process-CPU
    // stays at the clean-run floor was starved by something outside this
    // JVM — attributable from the artifact alone, no re-run needed.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def processCpuSec: Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    // GC decomposition (r13 verdict #1): under external memory pressure
    // GC threads storm and their time counts toward process CPU, so a
    // contended run's cpu does NOT stay at the clean floor (measured:
    // d_incr_steady 159 cpu-s vs 7.9 clean). Per-query GC-time deltas
    // split cpu into app + GC so a drifted artifact adjudicates itself:
    // wall↑ cpu↑ gc↑ = GC storm (external memory pressure); wall↑ with
    // cpu at floor = pure CPU starvation; wall↑ cpu↑ gc flat = real
    // plan regression.
    import scala.jdk.CollectionConverters._
    // PROTOCOL v3 (r14 verdict #1): the r14 driver artifact inflated
    // process CPU with a FLAT gc on byte-identical code — kernel
    // reclaim/page-fault time is charged to the process as SYSTEM time,
    // which the (cpu, gc, ext) triplet cannot see because it never
    // splits user vs sys. Three new channels, all read per query window:
    //  - utime/stime from /proc/self/stat (USER_HZ): "cpu↑" decomposes
    //    into app work (utime↑ = only then a regression candidate) vs
    //    kernel time (stime↑ with utime at floor = reclaim/faulting —
    //    environment, not code);
    //  - majflt from the same read: major faults mean our pages were
    //    evicted by SOMEONE (this JVM never swaps on an idle machine);
    //  - PSI stall totals (/proc/pressure/{memory,io} "some total=" µs,
    //    monotonic): host-wide pressure the per-process counters can
    //    only infer. Absent on non-PSI kernels → field omitted, never 0.
    def selfStat: (Double, Double, Long) =
      try {
        val s = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/self/stat")),
          java.nio.charset.StandardCharsets.UTF_8)
        // fields after the parenthesized comm (which may itself contain
        // spaces/parens — split after the LAST ')'): rest(0) is field 3
        // (state); majflt = field 12, utime = 14, stime = 15 (1-based)
        val rest = s.substring(s.lastIndexOf(')') + 1).trim.split("\\s+")
        (rest(11).toDouble / 100.0, rest(12).toDouble / 100.0, rest(9).toLong)
      } catch { case _: Throwable => (-1.0, -1.0, -1L) }
    def psiStallSec(res: String): Double =
      try {
        java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get(s"/proc/pressure/$res")).asScala
          .find(_.startsWith("some"))
          .flatMap(_.split("\\s+").find(_.startsWith("total="))
            .flatMap(_.stripPrefix("total=").toLongOption))
          .map(_ / 1e6).getOrElse(-1.0)
      } catch { case _: Throwable => -1.0 }
    def gcSec: Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    // direct external-contention meter: host-wide busy CPU minus this
    // process's CPU over each query window (/proc/stat, USER_HZ=100).
    // An idle machine contributes ~0; a rival workload shows up as
    // external cpu-seconds attributable per query — the in-artifact
    // contention verdict the loadavg snapshots only hinted at.
    // A/B forensics knob: SPARK_GRAFT_BENCH_NO_EXT=1 blinds the ext
    // channel, simulating the driver's namespaced /proc/stat (the r14
    // poisoned artifact read extcpu 33 while maxload hit 20.4) — used to
    // validate that the v3 stime/majflt/PSI channels classify a memory-
    // pressure arm correctly when the external meter cannot see the
    // rival. Unset on every official run.
    val extBlind = sys.env.get("SPARK_GRAFT_BENCH_NO_EXT").contains("1")
    // A/B forensics knob #2 (r15 verdict #1 validation): inflate ONE
    // named gate's measured window by `sec` seconds — "spin" busy-loops
    // the driver thread (inflates wall AND utime: the regression shape),
    // "sleep" blocks it (wall only: the starvation shape) — to prove the
    // per-gate adjudication rung names the right gate with the right
    // verdict while the suite stays at-floor. NEVER set on an official
    // run; when set, the artifact stamps "inject" on every rung so an
    // injected artifact can never pass as (or be compared to) a clean one.
    val inject: Option[(String, Double, String)] =
      sys.env.get("SPARK_GRAFT_BENCH_INJECT").map { s =>
        val p = s.split(':')
        require(p.length == 3 && (p(2) == "spin" || p(2) == "sleep"),
          s"SPARK_GRAFT_BENCH_INJECT must be <query>:<seconds>:<spin|sleep>, got '$s'")
        require(SparkEntry.queries.contains(p(0)),
          s"SPARK_GRAFT_BENCH_INJECT: unknown query ${p(0)}")
        (p(0), p(1).toDouble, p(2))
      }
    def hostBusySec: Double =
      if (extBlind) -1.0
      else try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        val f = line.trim.split("\\s+").drop(1).map(_.toDouble)
        // fields: user nice system idle iowait irq softirq steal guest
        // guest_nice. Busy excludes idle(3) and iowait(4), AND the
        // guest pair (8, 9): on Linux guest jiffies are ALREADY
        // included in user/nice, so summing them would double-count a
        // co-hosted VM's load and trip the contended threshold at half
        // the real external level
        (f.zipWithIndex.collect {
          case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v
        }.sum) / 100.0
      } catch { case _: Throwable => -1.0 }
    def snapshot(name: String): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val rt = Runtime.getRuntime
      snaps += ((name, infos.length, infos.map(_.memSize).sum,
        rt.totalMemory() - rt.freeMemory(), osBean.getSystemLoadAverage))
    }
    // per run: wall, process-cpu, gc-time, external-busy (host busy
    // minus our cpu, clamped at 0 for clock skew), and the v3 channels:
    // user/sys CPU split, major-fault delta, PSI memory/io stall deltas
    final case class RunMeas(wall: Double, cpu: Double, gc: Double, ext: Double,
                             ut: Double = -1.0, st: Double = -1.0,
                             mf: Long = -1L, pm: Double = -1.0, pi: Double = -1.0)
    def delta(a: Double, b: Double): Double = if (a >= 0 && b >= 0) b - a else -1.0
    val resultsRun = ordered.map { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val c0 = processCpuSec
        val g0 = gcSec
        val h0 = hostBusySec
        val (ut0, st0, mf0) = selfStat
        val pm0 = psiStallSec("memory")
        val pi0 = psiStallSec("io")
        val ok = try { force(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        // injected inflation lands INSIDE the measured window, on every
        // run (min-of-runs must not shed it) — validation harness only
        inject.filter(_._1 == name).foreach { case (_, sec, mode) =>
          if (mode == "sleep") Thread.sleep((sec * 1000).toLong)
          else {
            val until = System.nanoTime() + (sec * 1e9).toLong
            var x = 0L
            while (System.nanoTime() < until) x += 1 // driver-thread spin: utime↑
          }
        }
        val elapsed = (System.nanoTime() - t0) / 1e9
        val cpu = if (c0 >= 0) processCpuSec - c0 else -1.0
        val gc = gcSec - g0
        // BOTH window endpoints must have measured (a transient failed
        // close read returns -1, and clamping (-1 − h0) − cpu to 0
        // would record a contended window as a VALID-looking zero)
        val h1 = hostBusySec
        val ext =
          if (h0 >= 0 && h1 >= 0 && cpu >= 0) math.max(0.0, (h1 - h0) - cpu)
          else -1.0
        val (ut1, st1, mf1) = selfStat
        val mf = if (mf0 >= 0 && mf1 >= 0) mf1 - mf0 else -1L
        // PSI windows close HERE, alongside the selfStat end read and
        // BEFORE the hygiene flush (ADVICE r15 #2): the flush's own
        // unpersist/block-drop stalls would otherwise land inside every
        // query's psim/psii and an IO-heavy flush could trip the psiUp
        // bar, adjudicating a genuine code regression as memory pressure
        val pm1 = psiStallSec("memory")
        val pi1 = psiStallSec("io")
        // between runs AND queries: deterministically drop dead
        // localCheckpoint blocks + cached frames (r10's System.gc()
        // approach did not hold in the driver's environment —
        // d_components measured 14.9 s there vs its 3.4 s steady
        // state; see SessionHygiene for why GC-mediated cleanup lags)
        graft.core.SessionHygiene.flush(spark)
        RunMeas(if (ok) elapsed else -1.0, cpu, gc, ext,
          delta(ut0, ut1), delta(st0, st1), mf,
          delta(pm0, pm1), delta(pi0, pi1))
      }
      snapshot(name)
      val steady = times.drop(1).filter(_.wall >= 0)
      val best =
        if (steady.nonEmpty) steady.minBy(_.wall)
        else if (times.exists(_.wall >= 0)) times.filter(_.wall >= 0).minBy(_.wall)
        else RunMeas(-1.0, -1.0, -1.0, -1.0)
      // run 1's wall is DISCARDED from the drift channels (it pays
      // codegen/JIT/page-cache warmup) but it is the only run shaped
      // like the 100 TB design point, where every real query is cold —
      // record it as its own channel instead of throwing it away
      // (r18 verdict #3). With runs=1 cold == selected by construction.
      (name, best, times.head.wall)
    }
    val resultsCpu = resultsRun.map { case (n, b, _) => (n, b) }.sortBy(_._1)
    val coldWall = resultsRun.map { case (n, _, c) => (n, c) }.sortBy(_._1)
    val results = resultsCpu.map { case (k, m) => (k, m.wall) }
    // stdout JSON must stay comfortably under the driver's 2000-byte
    // tail-capture window (BENCH r9 came back "parsed": null because the
    // 89-query line at 3 decimals + trailing sbt output overflowed it):
    // 2 decimals with trailing zeros stripped, and the compact field set
    // below. BENCH_SELF.json keeps the full-fidelity copy.
    // Locale.ROOT on every number that lands in JSON (ADVICE r17 #4):
    // the f""/String.format default-locale idiom emits "1,23" under a
    // comma-decimal JVM locale — invalid JSON in BENCH_SELF.json and an
    // unparseable stdout line. jfix keeps fixed decimals (the
    // full-fidelity record's format); jnum strips trailing zeros (the
    // byte-budgeted stdout rungs').
    def jfix(v: Double, dec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
    def jnum(v: Double, dec: Int = 2): String = {
      val s = jfix(v, dec)
      if (s.contains('.')) {
        val t = s.reverse.dropWhile(_ == '0').reverse
        if (t.endsWith(".")) t.dropRight(1) else t
      } else s
    }
    def qsAt(dec: Int) = results
      .map { case (k, v) => Json.quote(k) + ":" + jnum(v, dec) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // loud failure channel: any unexpected ERROR-level log event during
    // the run lands in the artifact itself (count + first message), not
    // just in a stack trace a parser would skip
    val logErrs = graft.core.LogHygiene.errorCount
    // stdout copy carries a BUDGETED slice of the first error (80 chars
    // pre-escape): the full message lives in BENCH_SELF.json; an
    // unbudgeted log_first (~340 bytes) would overflow the capture
    // window on exactly the runs where the failure channel matters
    def logFirstAt(maxChars: Int) = graft.core.LogHygiene.firstError
      .map(m => ",\"log_first\":" + Json.quote(m.take(maxChars)))
      .getOrElse("")
    val logFirstFull = logFirstAt(Int.MaxValue)
    // sf as basename only: the dir prefix is constant and the window is
    // byte-budgeted (see jnum note above)
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // committed floors (BENCH_CLEAN.json, resolved in the working dir):
    // the in-artifact plausibility cross-check (r14 verdict #2). The r14
    // driver artifact stamped itself contended:false on a 1.65×-drifted
    // run because its one external meter (a namespaced /proc/stat) was
    // blind — meter disagreement is itself evidence, so a run that
    // exceeds the committed floor by >25% can never again print a bare
    // contended:false: it carries an "adjudication" verdict naming the
    // drift class, plus the top drifted (query, wall, floor) pairs.
    final case class Floors(wall: Map[String, Double], ut: Map[String, Double],
                            st: Map[String, Double], mf: Map[String, Double],
                            spread: Map[String, Double])
    val floors: Option[Floors] =
      try {
        val p = java.nio.file.Paths.get("BENCH_CLEAN.json")
        if (!java.nio.file.Files.exists(p)) None
        else {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readAllBytes(p))
          def m(field: String): Map[String, Double] = Option(root.get(field))
            .map(_.properties().asScala
              .map(e => e.getKey -> e.getValue.asDouble(-1.0)).toMap)
            .getOrElse(Map.empty)
          // floors are sf-bound: a probe at another scale factor must
          // not adjudicate against them (same basename rule as the
          // stdout "sf" field)
          val floorSf = Option(root.get("sf")).map(_.asText("")).getOrElse("")
            .split('/').filter(_.nonEmpty).lastOption.getOrElse("")
          if (floorSf != sfName) None
          else Some(Floors(m("queries"), m("query_utime"), m("query_stime"),
            m("query_majflt"), m("query_spread")))
        }
      } catch { case _: Throwable => None }
    // matched-window external-contention verdict (ADVICE r14 #4): the
    // ext/wall ratio is computed over queries whose windows actually
    // measured — transient /proc/stat read failures no longer dilute a
    // real contention signal into contended:false; their count is
    // emitted so readers can discount the verdict.
    val extWin = resultsCpu.filter(m => m._2.ext >= 0 && m._2.wall >= 0)
    val extSum = extWin.map(_._2.ext).sum
    val extWallSum = extWin.map(_._2.wall).sum
    val extUnmeasured = resultsCpu.count(_._2.ext < 0)
    val contendedV = extWin.nonEmpty && extSum > 0.5 * extWallSum
    // PROTOCOL v3 adjudication, computed over the queries that carry a
    // committed wall floor (gates newer than the capture are excluded
    // from BOTH sides). Verdict ladder — each rung only reachable when
    // the ones above ruled out:
    //   at-floor                   wall within 1.25× of the floor sum
    //   contended-external         rival cpu-seconds visible in /proc/stat
    //   contended-memory-pressure  stall/fault/kernel-time channels fired
    //                              (PSI stall > 5% of wall, majflt far
    //                              above floor, or stime↑; utime may
    //                              inflate too — GC user time does under
    //                              pressure — so pressure is checked
    //                              FIRST, the r14 misfire inverted)
    //   regression                 app user-time itself grew >20% with
    //                              every pressure channel flat — the only
    //                              rung that indicts the code. Residual
    //                              risk (documented, accepted): a pure
    //                              bandwidth rival on a namespaced host
    //                              can inflate utime with zero faults —
    //                              the drift pairs on the rung make the
    //                              judge's arbitration one probe re-run
    //   unexplained-drift          wall drifted, no channel explains it
    //                              (namespaced /proc blind to the rival,
    //                              or starvation) — NEVER a bare
    //                              contended:false
    final case class Adjudication(verdict: String, ratio: Double,
                                  drift: Seq[(String, Double, Double)])
    val adjudication: Option[Adjudication] = floors.map { f =>
      val matched = resultsCpu.filter { case (k, m) =>
        m.wall >= 0 && f.wall.get(k).exists(_ >= 0) }
      if (matched.isEmpty) Adjudication("no-floor-overlap", -1.0, Nil)
      else {
        val wallM = matched.map(_._2.wall).sum
        val floorM = matched.map { case (k, _) => f.wall(k) }.sum
        val ratio = if (floorM > 0) wallM / floorM else -1.0
        val drift = matched.map { case (k, m) => (k, m.wall, f.wall(k)) }
          .sortBy { case (_, w, fl) => fl - w }.take(5)
        def pair(meas: RunMeas => Double, fm: Map[String, Double]): (Double, Double) = {
          val both = matched.filter { case (k, m) =>
            meas(m) >= 0 && fm.get(k).exists(_ >= 0) }
          (both.map { case (_, m) => meas(m) }.sum,
            if (both.isEmpty) -1.0 else both.map { case (k, _) => fm(k) }.sum)
        }
        val (utS, utF) = pair(_.ut, f.ut)
        val (stS, stF) = pair(_.st, f.st)
        val (mfS, mfF) = pair(_.mf.toDouble, f.mf)
        val pmS = matched.map(_._2.pm).filter(_ >= 0).sum
        val piS = matched.map(_._2.pi).filter(_ >= 0).sum
        val psiUp = pmS > 0.05 * wallM || piS > 0.05 * wallM
        // 1.5×, not 2×: the suite's sys-time floor is large (~550 s of
        // kernel time is normal for local[32] shuffles), so a 2× bar
        // would let an r14-magnitude reclaim inflation (+300 s sys)
        // slip through to the utime rung; +150-s-of-sys regressions
        // from a code change are implausible without the drift pairs
        // making it obvious either way
        val stUp = stF >= 0 && stS > 1.5 * stF + 5.0
        // fault threshold: the committed idle floor is ZERO majflt in
        // every query window (startup mmaps land in the unmeasured
        // warmup; parquet reads are read(), not mmap), so even a few
        // hundred major faults mean our pages were evicted by someone —
        // calibrated on the r15 A/B memory arm, which drifted walls
        // 1.97× with mf 2342, gc FLAT and utime↑ (cache/bandwidth
        // starvation inflates USER time too, so a high mf bar had
        // mislabeled that arm "regression")
        val mfUp = if (mfF >= 0) mfS > 4.0 * mfF + 200 else mfS > 500
        val utUp = utF > 0 && utS > 1.2 * utF
        val verdict =
          if (ratio >= 0 && ratio <= 1.25) "at-floor"
          else if (contendedV) "contended-external"
          else if (psiUp || stUp || mfUp) "contended-memory-pressure"
          else if (utUp) "regression"
          else "unexplained-drift"
        Adjudication(verdict, ratio, drift)
      }
    }
    def driftJson(a: Adjudication, n: Int, dec: Int) = a.drift.take(n)
      .map { case (k, w, fl) => "[" + Json.quote(k) + "," + jnum(w, dec) + "," + jnum(fl, dec) + "]" }
      .mkString("[", ",", "]")
    // PER-GATE adjudication rung (r15 verdict #1): the suite verdict is
    // a SUM, so a single-gate regression can hide behind a below-floor
    // remainder (r15's artifact: mm_curation_stream 1.49× over floor
    // inside an at-floor suite). Any gate whose selected wall exceeds
    // BOTH `1.5× its committed floor + 0.5 s absolute slack` AND
    // `floor + 2× its capture spread` (the two noise bars — see the
    // calibration note below) gets its own mini-verdict from ITS
    // per-query channels, same ladder as the suite's: rival cpu visible in its window → contended-external;
    // its PSI stalls / sys-time / major faults fired → memory pressure
    // (checked FIRST — pressure inflates utime too); its own user time
    // grew with pressure flat → regression (the only rung that indicts
    // the code); nothing fired → unexplained-drift. Emitted on every
    // verdict INCLUDING at-floor — that is the point.
    //
    // Slack calibration (r16 injection A/B): with a 0.3 s absolute
    // slack, warm-machine runs produced sub-second BYCATCH next to the
    // injected gate (q5_topk 0.6-vs-0.1 and mm_frames 0.9-vs-0.4 fired,
    // one labeled "regression" on pure run noise). Half a second of
    // absolute drift is the floor below which JIT/scheduling noise
    // dominates any per-gate channel at these gate sizes — under it the
    // SUITE rung is the arbiter; the injected 5 s arms clear the bar by
    // an order of magnitude either way. The gate's own CAPTURE ENVELOPE
    // is the second noise bar: floors are per-query MINs, so a gate
    // with 3× intrinsic idle spread (mm_frames: 0.35-1.12 across the
    // r16 captures — stime swings with page-cache state) would read
    // "drifted" on every TYPICAL run; wall must also clear
    // floor + 2×spread (query_spread in BENCH_CLEAN.json, 0 when the
    // floors predate the field). For stable gates spread ≈ 0 and the
    // 1.5× bar governs; real single-gate regressions clear both.
    final case class GateVerdict(name: String, wall: Double, floor: Double,
                                 verdict: String)
    val gateVerdicts: Seq[GateVerdict] = floors.toSeq.flatMap { f =>
      resultsCpu.flatMap { case (k, m) =>
        f.wall.get(k)
          .filter { fl =>
            val sp = f.spread.getOrElse(k, 0.0).max(0.0)
            fl >= 0 && m.wall >= 0 &&
              m.wall > math.max(1.5 * fl + 0.5, fl + 2 * sp)
          }
          .map { fl =>
            val psiUp = (m.pm >= 0 || m.pi >= 0) &&
              math.max(m.pm, 0) + math.max(m.pi, 0) > 0.05 * m.wall
            val stF = f.st.getOrElse(k, -1.0)
            val stUp = m.st >= 0 && stF >= 0 && m.st > 1.5 * stF + 0.5
            val mfF = f.mf.getOrElse(k, -1.0)
            val mfUp = m.mf >= 0 &&
              (if (mfF >= 0) m.mf > 4 * mfF + 50 else m.mf > 100)
            val utF = f.ut.getOrElse(k, -1.0)
            // utF == 0 is a VALID floor (ADVICE r16 #3): a sub-10ms-CPU
            // gate that grows seconds of pure user time must still be
            // indictable as a regression — the +0.5 s absolute term
            // carries the whole bar when the floor is zero
            val utUp = m.ut >= 0 && utF >= 0 && m.ut > 1.2 * utF + 0.5
            val verdict =
              if (m.ext >= 0 && m.ext > 0.5 * m.wall) "contended-external"
              else if (psiUp || stUp || mfUp) "contended-memory-pressure"
              else if (utUp) "regression"
              else "unexplained-drift"
            GateVerdict(k, m.wall, fl, verdict)
          }
      }.sortBy(g => g.floor - g.wall) // most-drifted first
    }
    // informational drift trace (r16 verdict #3): every gate above
    // 1.25× its committed floor, NO verdict attached, BENCH_SELF.json
    // only (not the stdout rungs — sub-bar drift is not an alarm). A
    // gate like mm_curation that drifts 1.4× two rounds running without
    // ever clearing the per-gate verdict bar is now readable from the
    // committed artifacts alone, no re-run. The 0.2 s absolute guard
    // keeps sub-100-ms jitter rows out of the list.
    val driftInfo: Seq[(String, Double, Double)] = floors.toSeq.flatMap { f =>
      resultsCpu.flatMap { case (k, m) =>
        f.wall.get(k)
          .filter(fl => fl >= 0 && m.wall >= 0 &&
            m.wall > 1.25 * fl && m.wall - fl > 0.2)
          .map(fl => (k, m.wall, fl))
      }.sortBy { case (_, w, fl) => -(w / math.max(fl, 1e-9)) } // biggest ratio first
    }
    def gatesJson(n: Int, dec: Int) = gateVerdicts.take(n)
      .map(g => "[" + Json.quote(g.name) + "," + jnum(g.wall, dec) + "," +
        jnum(g.floor, dec) + ",\"" + g.verdict + "\"]")
      .mkString("[", ",", "]")
    // "cpu" (whole process-CPU seconds of the selected runs) rides every
    // stdout rung with its decomposition (r13: gc; r15: utime/stime/
    // majflt/PSI — see the protocol-v3 note above): "gc" = GC seconds
    // inside cpu, "ut"/"st" = user/sys split, "mf" = major faults,
    // "psim"/"psii" = host PSI stall seconds inside our windows,
    // "extcpu" = OTHER processes' busy cpu-seconds, "maxload" = peak
    // 1-min loadavg, "contended" = rivals averaged >0.5 cores over the
    // measured windows (calibration: idle harness floor ~0.3 cores,
    // real contention 3-15 — FULL-SUITE durations; a SHORT probe can
    // trip the flag on the sbt parent JVM alone, e.g. 14 cpu-s over a
    // 16 s probe right after a compile — read the adjudication rung,
    // which floors-normalizes, on probe runs). "adjudication" is the
    // v3 verdict vs the
    // committed BENCH_CLEAN.json floors; any non-at-floor verdict
    // carries the top drifted (query, wall, floor) pairs.
    def cpuField = {
      val c = resultsCpu.map(_._2.cpu).filter(_ >= 0).sum
      val g = resultsCpu.map(_._2.gc).filter(_ >= 0).sum
      val utS = resultsCpu.map(_._2.ut).filter(_ >= 0).sum
      val stS = resultsCpu.map(_._2.st).filter(_ >= 0).sum
      val pmS = resultsCpu.map(_._2.pm).filter(_ >= 0).sum
      val piS = resultsCpu.map(_._2.pi).filter(_ >= 0).sum
      val maxLoad = if (snaps.nonEmpty) snaps.map(_._5).max else -1.0
      (if (c > 0) ",\"cpu\":" + math.round(c) else "") +
        (if (c > 0) ",\"gc\":" + jnum(g, 1) else "") +
        (if (resultsCpu.exists(_._2.ut >= 0))
           ",\"ut\":" + math.round(utS) + ",\"st\":" + math.round(stS) +
             ",\"mf\":" + resultsCpu.map(_._2.mf).filter(_ >= 0).sum
         else "") +
        (if (resultsCpu.exists(_._2.pm >= 0)) ",\"psim\":" + jnum(pmS, 1) else "") +
        (if (resultsCpu.exists(_._2.pi >= 0)) ",\"psii\":" + jnum(piS, 1) else "") +
        // loadavg comes from the MXBean, not /proc/stat — it rides every
        // rung whenever snapshots measured (ADVICE r14 #3), independent
        // of the ext channel's availability
        (if (maxLoad >= 0) ",\"maxload\":" + jnum(maxLoad, 1) else "") +
        // no measured window (host without /proc/stat) → OMIT the ext
        // fields rather than positively asserting extcpu:0 /
        // contended:false with no evidence behind them
        (if (extWin.nonEmpty)
           ",\"extcpu\":" + math.round(extSum) +
             (if (extUnmeasured > 0) ",\"extmiss\":" + extUnmeasured else "") +
             ",\"contended\":" + contendedV
         else "") +
        adjudication.map { a =>
          ",\"adjudication\":\"" + a.verdict + "\"" +
            (if (a.ratio >= 0) ",\"floor_ratio\":" + jnum(a.ratio, 2) else "") +
            (if (a.verdict != "at-floor" && a.drift.nonEmpty)
               ",\"drift\":" + driftJson(a, 5, 1)
             else "")
        }.getOrElse("") +
        // per-gate verdicts ride every rung whenever any gate drifted
        // >1.5× its floor — even (especially) when the suite verdict is
        // at-floor (the r15 hiding pattern)
        (if (gateVerdicts.nonEmpty) ",\"gates\":" + gatesJson(5, 1) else "") +
        inject.map { case (n, s, m) =>
          ",\"inject\":" + Json.quote(n + ":" + jnum(s, 1) + ":" + m) }.getOrElse("") +
        // probe-filter provenance (ADVICE r14 #1): a filtered artifact
        // names its filter on every rung, so it can never be mistaken
        // for (or compared as) a full-suite run
        only.map(names => ",\"only\":" + names.toSeq.sorted
          .map(Json.quote).mkString("[", ",", "]")).getOrElse("")
    }
    def lineAt(dec: Int, lf: String) =
      f"""{"metric":"total","value":${jnum(total)},"unit":"sec"$cpuField,"log_errors":$logErrs$lf,"queries":${qsAt(dec)},"sf":"$sfName"}"""
    // adaptive fallbacks, tried in order, so the emitted line can never
    // outgrow the driver's 2000-byte capture: full precision → 1
    // decimal → drop the error excerpt (the count stays; the text is in
    // BENCH_SELF.json) → integer seconds (per-query precision lives in
    // BENCH_SELF.json; the total keeps 2 decimals on every rung)
    // threshold 1950: the hard cap is the 2000-byte window itself (the
    // line prints last on a clean stdout, so only the newline follows);
    // 1950 leaves real margin while letting a ~98-query line keep
    // 1-decimal per-query times instead of degrading to integers.
    // Measured in UTF-8 BYTES, not chars — the capture window is a byte
    // window, and a log_first excerpt with multibyte characters would
    // otherwise pass the char check yet overflow the capture
    def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    // positional rung: when named per-query maps can't fit (125+ names
    // alone exceed the byte window), emit EVERY query at decisecond
    // precision as a positional array — "qv" lists values in
    // SORTED-NAME order (the exact key order of the "queries" map on
    // the richer rungs, of CORRECTNESS_r{N}.json, and of
    // BENCH_SELF.json), so per-query driver history covers the whole
    // corpus instead of shedding the fastest queries (r11 artifact
    // gap: 16 of 125 q_omitted). ~5 bytes/query: fits hundreds.
    // r19 verdict #1: the driver could not join the positional qv array
    // to gate names (PERF_r19 per_query came back empty), so the rung
    // now carries a parallel "qn" name array WHEN IT FITS. Byte math for
    // the full 131-gate corpus: the names sum to 1563 chars, so the qn
    // array alone is 1957 bytes against the driver's 2000-byte capture
    // window (proven: BENCH_r01-r04/r09 tails clip at exactly 2000 and
    // parse null) — full names + values can never fit one line there.
    // The ladder therefore tries qn+qv first and falls back to the bare
    // qv rung (r19's shape, still joinable by zipping qv with the
    // sorted gate names of CORRECTNESS_r{N}.json — qv_order says so);
    // probe/filtered runs and smaller corpora get the named join for
    // free. Additions only: every pre-existing field is unchanged.
    def lineQvAt(withNames: Boolean) = {
      val vals = results.map { case (_, v) =>
        if (v < 0) "-1" else math.round(v * 10).toString }
      val qn =
        if (withNames)
          "\"qn\":[" + results.map(r => Json.quote(r._1)).mkString(",") + "],"
        else ""
      f"""{"metric":"total","value":${jnum(total)},"unit":"sec"$cpuField,"log_errors":$logErrs,"q_omitted":0,$qn"qv_unit":"ds","qv_order":"name-asc","qv":[${vals.mkString(",")}],"sf":"$sfName"}"""
    }
    def lineQv = lineQvAt(false)
    // ultimate rung: if even the positional array overflows, keep the
    // SLOWEST n queries — the ones a perf reader actually needs — and
    // say how many were dropped ("q_omitted"; the full map is always
    // in BENCH_SELF.json). n descends in steps of 8 until the line
    // fits; n=0 (just the total) always fits.
    def lineTopAt(n: Int) = {
      val kept = results.sortBy { case (k, v) => (-v, k) }.take(n).sortBy(_._1)
      val qs = kept.map { case (k, v) => Json.quote(k) + ":" + jnum(v, 0) }
        .mkString("{", ",", "}")
      f"""{"metric":"total","value":${jnum(total)},"unit":"sec"$cpuField,"log_errors":$logErrs,"q_omitted":${results.size - n},"queries":$qs,"sf":"$sfName"}"""
    }
    val json = (Seq(lineAt(2, logFirstAt(80)), lineAt(1, logFirstAt(80)),
        lineAt(1, ""), lineAt(0, ""), lineQvAt(true), lineQv) ++
        (results.size to 0 by -8).map(lineTopAt))
      .find(bytes(_) <= 1950).getOrElse(lineTopAt(0))
    // file copy first (reliable channel regardless of stdout state) —
    // full fidelity: 3-decimal times, runs, the complete sf dir
    val qsFull = results.map { case (k, v) => Json.quote(k) + ":" + jfix(v, 3) }
      .mkString("{", ",", "}")
    // snapshots in RUN order (that's the axis residue accumulates on):
    // [query, persistent RDD count, their bytes, driver used-heap bytes,
    //  host 1-min load average]
    val snapsJson = snaps.map { case (k, n, b, h, l) =>
      "[" + Json.quote(k) + "," + n + "," + b + "," + h + "," + jfix(l, 1) + "]" }
      .mkString("[", ",", "]")
    // per-query process-CPU / GC / external-busy seconds of the SELECTED
    // (min-wall) run — the full attribution triplet: wall↑ cpu-at-floor
    // = starved; wall↑ cpu↑ gc↑ = GC storm under memory pressure;
    // wall↑ cpu↑ gc-flat ext-flat = real regression
    def qmap(sel: RunMeas => Double) = resultsCpu
      .map { case (k, m) => Json.quote(k) + ":" + jfix(sel(m), 3) }
      .mkString("{", ",", "}")
    val cpuTotal = resultsCpu.map(_._2.cpu).filter(_ >= 0).sum
    val gcTotal = resultsCpu.map(_._2.gc).filter(_ >= 0).sum
    val extTotal = resultsCpu.map(_._2.ext).filter(_ >= 0).sum
    // each v3 total prints ONLY when its channel measured at least one
    // query window (ADVICE r15 #3): summing an all--1 channel to 0.0
    // would positively assert an idle channel on a host where the meter
    // was blind — the exact failure mode the stdout cpuField avoids by
    // omitting unmeasured fields; the full-fidelity record mirrors it
    def v3Field(name: String, sel: RunMeas => Double, fmt: Double => String): String =
      if (resultsCpu.exists(m => sel(m._2) >= 0))
        ",\"" + name + "\":" + fmt(resultsCpu.map(m => sel(m._2)).filter(_ >= 0).sum)
      else ""
    val v3Full =
      v3Field("utime_total", _.ut, v => jfix(v, 1)) +
        v3Field("stime_total", _.st, v => jfix(v, 1)) +
        v3Field("majflt_total", _.mf.toDouble, v => v.toLong.toString) +
        v3Field("psimem_total", _.pm, v => jfix(v, 1)) +
        v3Field("psiio_total", _.pi, v => jfix(v, 1))
    val maxLoadFull = if (snaps.nonEmpty) snaps.map(_._5).max else -1.0
    val adjFull = adjudication.map { a =>
      ",\"adjudication\":\"" + a.verdict + "\"" +
        (if (a.ratio >= 0) ",\"floor_ratio\":" + jfix(a.ratio, 3) else "") +
        (if (a.drift.nonEmpty) ",\"drift_top\":" + driftJson(a, 5, 3) else "")
    }.getOrElse("")
    val onlyFull = only.map(names => ",\"only\":" + names.toSeq.sorted
      .map(Json.quote).mkString("[", ",", "]")).getOrElse("")
    val gatesFull =
      if (gateVerdicts.nonEmpty)
        ",\"gate_verdicts\":" + gatesJson(gateVerdicts.size, 3)
      else ""
    val driftInfoFull =
      if (driftInfo.nonEmpty)
        ",\"drift_info\":" + driftInfo.map { case (k, w, fl) =>
          "[" + Json.quote(k) + "," + jfix(w, 3) + "," + jfix(fl, 3) + "]"
        }.mkString("[", ",", "]")
      else ""
    val injectFull = inject.map { case (n, s, m) =>
      ",\"inject\":" + Json.quote(n + ":" + jnum(s, 1) + ":" + m) }.getOrElse("")
    // config-arm stamps (r18 verdict #4/#5): a non-default master /
    // off-heap / local-dirs run carries its arm in the artifact, so an
    // arm measurement can never be mistaken for (or floor-compared
    // against) a default-config capture
    val armFull =
      (if (master != masterDefault) ",\"master\":" + Json.quote(master) else "") +
        graft.core.SessionSetup.offHeap
          .map(v => ",\"offheap\":" + Json.quote(v)).getOrElse("") +
        graft.core.SessionSetup.localDirs
          .map(v => ",\"local_dirs\":" + Json.quote(v)).getOrElse("")
    val fsFull =
      if (fsProbe._1 >= 0)
        ",\"fs_probe_mb_s\":" + jfix(fsProbe._1, 1) +
          ",\"tmp_free_gb\":" + jfix(fsProbe._2, 1)
      else ""
    val qcold = coldWall.map { case (k, v) => Json.quote(k) + ":" + jfix(v, 3) }
      .mkString("{", ",", "}")
    val qmf = resultsCpu.map { case (k, m) => Json.quote(k) + ":" + m.mf }
      .mkString("{", ",", "}")
    val jsonFull = s"""{"metric":"total","value":${jfix(total, 3)},"unit":"sec","runs":$runs,"order":"$runOrder","cpu_total":${jfix(cpuTotal, 1)},"gc_total":${jfix(gcTotal, 1)},"ext_total":${jfix(extTotal, 1)}$v3Full,"max_load":${jfix(maxLoadFull, 1)},"contended":$contendedV,"ext_unmeasured":$extUnmeasured$adjFull$gatesFull$driftInfoFull$injectFull$armFull$fsFull$onlyFull,"log_errors":$logErrs$logFirstFull,"queries":$qsFull,"query_cold":$qcold,"query_cpu":${qmap(_.cpu)},"query_gc":${qmap(_.gc)},"query_ext":${qmap(_.ext)},"query_utime":${qmap(_.ut)},"query_stime":${qmap(_.st)},"query_majflt":$qmf,"query_psimem":${qmap(_.pm)},"query_psiio":${qmap(_.pi)},"session_snaps":$snapsJson,"sf":"$sfDir"}"""
    // filtered probes land in a SEPARATE (untracked) file: BENCH_SELF
    // .json is the committed full-suite attribution record, and a probe
    // overwriting it is exactly how a 4-query artifact once got
    // committed as the round's record (ADVICE r14 #1, the stronger
    // half: distinct filename, not just the only:[...] stamp).
    // Full-suite runs default to the UNTRACKED BENCH_SELF_LAST.json
    // (r17 verdict #2): three consecutive rounds ended with the
    // committed record silently overwritten by whatever full-suite run
    // happened last (smoke runs at sf0.001, the driver's official run),
    // leaving the measurement artifacts dirty at round end. The
    // committed BENCH_SELF.json now changes ONLY under an explicit
    // SPARK_GRAFT_BENCH_RECORD=1 — a deliberate promotion, exactly like
    // the probe/inject separation above.
    val recordEnv = sys.env.get("SPARK_GRAFT_BENCH_RECORD")
    val recordRun = recordEnv.contains("1")
    // ADVICE r18 #4: the routing is deliberate, so it must be VISIBLE —
    // a RECORD value other than exactly "1" (e.g. "true") quietly
    // routing to _LAST, or a failed write leaving a stale committed
    // record, both read as "the round's record" to anyone who didn't
    // watch the run. Name the resolved path always; warn on a non-"1"
    // RECORD; surface (never swallow) a write failure on a record run.
    recordEnv.filter(_ != "1").foreach { v =>
      System.err.println(s"[bench] SPARK_GRAFT_BENCH_RECORD='$v' is not '1' — " +
        "NOT promoting; writing BENCH_SELF_LAST.json")
    }
    val selfFile = Bench.selfFileName(only.isDefined, recordRun,
      inject.isDefined, configArm)
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(selfFile), jsonFull + "\n")
      System.err.println(s"[bench] artifact -> $selfFile")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] FAILED writing $selfFile: $e")
      // a record run whose artifact did not land must fail loudly —
      // exiting 0 here is how a stale BENCH_SELF.json masquerades as
      // the round's record
      if (recordRun && !inject.isDefined && !configArm && !only.isDefined) {
        spark.stop(); sys.exit(3)
      }
    }
    // ...then the driver's stdout line, printed AFTER spark.stop() so no
    // executor/log4j output can interleave with it, with stdout kept
    // clean end to end: build.sbt forwards forked output raw (no sbt
    // "[info] " prefix) and routes all log4j2 output to stderr at ERROR
    // (rounds 1-4 all came back "parsed": null from prefix/log bleed)
    spark.stop()
    System.out.flush()
    println(json)
  }
}
