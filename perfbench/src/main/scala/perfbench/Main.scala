package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark JVM: session, warm-up, timed passes (or the open loop);
  * results go to `<out>/result.json` (and, traced, `<out>/spans.jsonl`).
  *
  * Options: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --out DIR --cpus N [--outputs DIR]`.
  * `--outputs` makes the warm-up pass (and the trace-only pass)
  * write each gate's result there for the correctness check.
  * `--oracles FILE` alone writes the oracle SQL of every gate of every
  * workload to FILE and starts no session. A traced
  * run of a batch workload ends with one `local[1]` pass. The line
  * `perfbench: ready` on stdout marks the end of set-up. */
object Main {
  /** A workload's timed gates, the nominal seconds of one timed pass on a
    * 4-core host (a run makes `ceil(seconds / nominal)` timed passes, so
    * the count is the same for both sides of a comparison), its warm-up
    * passes (batch workloads only: a second one narrowed `pipeline`'s
    * spreads in interleaved runs; `curate`'s were as narrow without it,
    * which saves 3 s of every run), and the gates only its traced run
    * adds, once after the timed passes, in this order, so that every gate
    * the benchmark covers gets a traced record. mm_curation_stream (25-35 s)
    * runs in the shortest traced run, `pipeline`'s, so that no traced run comes
    * near its time limit. */
  final case class Workload(timed: Seq[String], nominalPassS: Double, warmups: Int,
                            traceOnly: Seq[String])

  private val Replays = Seq("q27_stream_e2e", "q30_late_data", "q31_stream_join",
    "q35_stream_cms", "q38_stream_sessions", "q39_stream_sessions_late")

  val Workloads: Map[String, Workload] = Map(
    "pipeline" -> Workload(
      Seq("p_from_list", "p_split_flatmap", "c_str_roundtrip", "q2_filter_project"), 1.5, 2,
      Seq("mm_curation_stream", "p_text_file", "p_binary_file", "p_fold_trigger",
        "c_gzip_roundtrip", "c_xml_tree", "c_avro_roundtrip", "c_json_roundtrip",
        "c_jsonl_quarantine", "c_schema_evolution", "q11_tumbling_window", "q12_fold_count",
        "q13_limit", "q14_merge_ordered", "q15_roundrobin")),
    "curate" -> Workload(
      Seq("d_minhash_lsh", "t_quality_lr"), 2.5, 1,
      Seq("d_ppjoin", "d_ngram_jaccard", "d_components", "d_passages",
        "t_trigram_lm", "t_repetition", "s_ann_ivfpq", "mm_curation")),
    // the micro-batch replays run in the traced run of the streaming workload
    "stream_open" -> Workload(Nil, 1.0, 0, Replays))

  /** A trace-only gate starts only while the JVM is younger than 135 s, and
    * the local[1] pass only before 145 s, so a slow host cannot push a
    * traced run past its time limit (170 s); no trace-only gate but the
    * first of `pipeline` takes more than 10 s. The traced JVMs end within
    * 70-95 s on a 4-core host. A step left out for this counts as a
    * failure of the run. */
  private def youngerThan(s: Double): Boolean = System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime < s * 1000

  def session(master: String, cpus: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("oracles")) {
      val gates = Workloads.values.flatMap(w => w.timed ++ w.traceOnly)
      Files.writeString(Paths.get(opt("oracles")),
        Json(gates.map(n => n -> SparkEntry.oracleSql(n)).toMap))
      return
    }
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val out = opt("out")
    val cpus = opt("cpus").toInt
    val localDir = s"$out/spark-local"
    Files.createDirectories(Paths.get(localDir))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "spark" -> org.apache.spark.SPARK_VERSION, "jdk" -> System.getProperty("java.version"))
    val t0 = System.nanoTime()
    val spark = session(s"local[$cpus]", cpus, localDir)
    spark.sparkContext.setLogLevel("ERROR")
    result("session_s") = (System.nanoTime() - t0) / 1e9
    val args1 = Args(workload, seed, opt("seconds").toDouble, opt("trace") == "1", opt("data"),
      opt.get("outputs"))
    if (workload == "stream_open") openLoop(spark, args1, out, result)
    else passes(spark, args1, cpus, localDir, out, result)
    result("peak_rss_mb") = Host.peakRssMb()
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
    SparkSession.active.stop()
  }

  final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
                        data: String, outputs: Option[String])

  private val TooLate = "skipped: the JVM was past its time cut-off"

  private def ready(): Unit = { println("perfbench: ready"); Console.out.flush() }

  private def passes(spark: SparkSession, a: Args, cpus: Int, localDir: String, out: String,
                     result: mutable.Map[String, Any]): Unit = {
    val w = Workloads(a.workload)
    val rnd = new scala.util.Random(a.seed)
    def order(names: Seq[String]) = rnd.shuffle(names).map(n => n -> SparkEntry.queries(n))
    val runner = new Runner(spark, a.data, cpus)
    writeOracles(a, w.timed)
    // the first warm-up pass pays class loading and code generation and
    // writes the checked outputs; a second one lets the JIT settle further
    val warmups = runner.pass("warmup", order(w.timed), a.outputs) +:
      (1 until w.warmups).map(_ => runner.pass("warmup", order(w.timed)))
    result("warmup_s") = warmups.map(_.seconds).sum
    ready()
    // Traced runs alternate untraced and traced passes (an odd count, so
    // every traced pass sits between two untraced ones), and the tracing
    // overhead is measured inside one JVM.
    val n0 = math.ceil(a.seconds / w.nominalPassS).toInt
    val n = if (a.traced) math.max(3, n0 | 1) else math.max(1, n0)
    val timed = (0 until n).map { i =>
      val traced = a.traced && i % 2 == 1
      runner.pass("timed", order(w.timed), traced = traced) -> traced
    }
    def gates(p: Span) = runner.spans.children(p).map(g => g.name -> g.seconds).toMap
    result("warmup_gates") = gates(warmups.head)
    result("passes") = timed.map { case (p, traced) =>
      val (h0, h1) = p.host.get
      Map("wall_s" -> p.seconds, "cpu_s" -> (h1 - h0).cpuS, "ext_cpu_s" -> (h1 - h0).extCpuS,
        "traced" -> traced, "gates" -> gates(p))
    }
    if (a.traced) {
      val tracedPasses = timed.collect { case (p, true) => p }
      traceReport(runner, w, a, out, tracedPasses, result)
      result("layers") = tracedPasses.map(runner.ledger.layers)
    }
    if (a.traced && youngerThan(145)) {
      // single-threaded reference: same configuration, one task slot
      spark.stop()
      val one = session("local[1]", cpus, localDir)
      one.sparkContext.setLogLevel("ERROR")
      val single = new Runner(one, a.data, 1)
      result("local1_pass_s") = single.pass("local1", order(w.timed)).seconds
      runner.failures ++= single.failures
    } else if (a.traced) runner.failures += ("local1" -> TooLate)
    result("failures") = runner.failures.map { case (g, e) => Map("gate" -> g, "error" -> e) }
  }

  /** The oracle of every gate whose output this run writes. */
  private def writeOracles(a: Args, timed: Seq[String]): Unit = a.outputs.foreach { dir =>
    val checked = timed ++ (if (a.traced) Workloads(a.workload).traceOnly else Nil)
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json(checked.map(n => n -> SparkEntry.oracleSql(n)).toMap))
  }

  /** Runs the trace-only gates (traced, outputs checked), then records the
    * traced gates' layers, the lane split of curation-stream jobs, and
    * every span. */
  private def traceReport(runner: Runner, w: Workload, a: Args, out: String,
                          traced: Seq[Span], result: mutable.Map[String, Any]): Unit = {
    val extra = if (w.traceOnly.isEmpty) Nil else Seq(runner.spans("pass", "trace-only") { s =>
      runner.recorder.attach()
      try w.traceOnly.foreach { n =>
        if (youngerThan(135)) runner.gate(n, SparkEntry.queries(n), a.outputs)
        else runner.failures += n -> TooLate
      } finally runner.recorder.detach()
      s
    })
    val ledger = runner.ledger
    val gates = (traced ++ extra).flatMap(runner.spans.children)
    result("gate_layers") = gates.groupBy(_.name).map { case (n, gs) =>
      n -> gs.map(g => ledger.layers(g) + ("wall_s" -> g.seconds))
    }
    result("lanes") = gates.groupBy(_.name).map { case (n, gs) =>
      n -> gs.map(ledger.taskSecondsByDescription).reduce((x, y) =>
        (x.keySet ++ y.keySet).map(k => k -> (x.getOrElse(k, 0.0) + y.getOrElse(k, 0.0))).toMap)
    }.filter(_._2.keys.exists(_.startsWith("graft-cs:")))
    result("skipped") = runner.failures.collect { case (g, TooLate) => g }.toSeq
    Files.write(Paths.get(s"$out/spans.jsonl"),
      ledger.spanLines().mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** One query runs throughout: warm-up, then an untraced window (in a
    * traced run, untraced, traced, untraced). A window's batches are the triggers that
    * started in it; its emits are the rows the sink received in it. */
  private def openLoop(spark: SparkSession, a: Args, out: String,
                       result: mutable.Map[String, Any]): Unit = {
    val rate = OpenLoop.Rate
    writeOracles(a, Nil)
    result("rate") = rate
    val runner = new Runner(spark, a.data, spark.sparkContext.defaultParallelism)
    val loop = OpenLoop.start(spark, rate, a.seed)
    val windows = try {
      Thread.sleep(OpenLoop.WarmupMs)
      ready()
      (if (a.traced) Seq(false, true, false) else Seq(false)).map { traced =>
        if (traced) runner.recorder.attach()
        try traced -> runner.spans("window", if (traced) "traced" else "untraced",
          withHost = true)(s => { Thread.sleep((a.seconds * 1000).toLong); s })
        finally if (traced) runner.recorder.detach()
      }
    } finally loop.query.stop()
    val progress = loop.progress
    result("warmup_s") = OpenLoop.WarmupMs / 1e3
    result("admitted") = loop.admitted(rate)
    result("emits") = loop.emits.map(e => Seq(e.key, e.sum, e.count, e.newestMs, e.newestV, e.atMs))
    result("windows") = windows.map { case (traced, span) =>
      val (h0, h1) = span.host.get
      val batches = progress.filter { p =>
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        p.numInputRows > 0 && at >= span.t0Ms && at <= span.t1Ms
      }
      Map("traced" -> traced, "wall_s" -> span.seconds, "cpu_s" -> (h1 - h0).cpuS,
        "ext_cpu_s" -> (h1 - h0).extCpuS, "start_ms" -> span.t0Ms, "end_ms" -> span.t1Ms,
        "trigger_ms" -> batches.map(_.durationMs.get("triggerExecution").longValue))
    }
    if (a.traced) {
      val traced = windows.collect { case (true, s) => s }
      traceReport(runner, Workloads(a.workload), a, out, Nil, result)
      result("layers") = traced.map(runner.ledger.layers)
      result("failures") = runner.failures.map { case (g, e) => Map("gate" -> g, "error" -> e) }
    }
  }
}
