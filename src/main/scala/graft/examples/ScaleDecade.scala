package graft.examples

import graft.operators.{Curation, Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second-scale-decade evidence for the five heaviest shuffle operators
  * (r15 verdict #4): every 100 TB claim so far extrapolates from sf0.1
  * plans + SCALING.md reasoning at ONE scale; this main measures the
  * operators at two scales a decade apart and prints wall +
  * shuffle-bytes pairs, so the scaling EXPONENT is measured, not argued.
  *
  * `runMain graft.examples.ScaleDecade [sfDir] [factor] [saltEvery] [ops]`
  *
  * `ops` (optional, comma-separated from curate,minhash_lsh,ppjoin,
  * components_star,ivfpq_topk) restricts the run to the named
  * operators AND skips the staging their lanes alone need — a
  * factor-300 single-operator point (the ceiling-convergence
  * measurement, r17) would otherwise pay 300-copy staging for all
  * five lanes.
  *
  * The blow-up is synthetic but WORKLOAD-PRESERVING: `factor` copies of
  * the documents/embeddings tables under disjoint id ranges, each copy
  * deterministically perturbed so copies are mutually DISSIMILAR. Two
  * document lanes, because no single perturbation serves both operator
  * families: the SHINGLE operators (minhashLsh/ppjoin/edge generation)
  * get a per-copy letter-rotation (`translate` over 12 common letters:
  * shingle spaces of different copies are unrelated, while WITHIN a
  * copy the planted dup/near-dup structure survives verbatim, so dup
  * rate, candidate rate and component shapes stay constant per copy and
  * totals scale linearly — the property a linear-scaling measurement
  * needs); the CURATE funnel gets a language-preserving salt-word lane
  * (`docsCopyQ` below — the rotation would gate every perturbed copy
  * out). Embeddings get a per-copy deterministic additive wave
  * (neighborhoods shift, norms stay close). Both scales are staged to
  * parquet the same way, so file layout is not a variable.
  *
  * Measured per (operator, scale): wall seconds of a full noop-write
  * materialization, executor shuffle-read/-write bytes and input bytes
  * over the window ([[graft.tools.Meter]]), output rows.
  * Exponent per operator: log(T_F / T_1) / log(F) — ~1.0 is linear;
  * see SCALING.md "Second scale decade" for the recorded table.
  */
object ScaleDecade {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).flatMap(_.toIntOption).getOrElse(10)
    // SPARK_GRAFT_MASTER (default local[32]): the executor-count
    // attribution knob (r16 verdict #7 stretch) — e.g.
    // `local-cluster[4,8,20480]` runs 4 SEPARATE executor JVMs × 8
    // cores × 20 GiB, so the single-process GC ceiling splits four
    // ways while total cores stay 32. Executor processes need the
    // graft classes on their classpath (sbt runs from target/classes,
    // no jar is shipped), hence the extraClassPath passthrough.
    val master = graft.core.SessionSetup.master("local[32]")
    val builder = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // local-cluster extras + the off-heap arm (r17 verdict #5: moves
    // Tungsten buffers out of the GC domain WITHOUT the loopback
    // serialization the local-cluster arm pays — the fourth arm in
    // SCALING.md) + the local-dirs lever now live in the shared
    // SessionSetup so Verify/Bench/ScaleDecade expose identical knobs
    val spark = graft.core.SessionSetup(builder, master).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // spill + GC channels: when a scale step departs linear, these say
    // whether the cause is plan shape (more/larger exchanges) or the
    // single-process memory ceiling (spill/GC amplification) — on a
    // cluster the latter is the signal to add executors, not a plan bug
    val meter = new graft.tools.Meter(spark.sparkContext)

    val scratch = java.nio.file.Files.createTempDirectory("graft-decade").toString
    try {
      // ---- stage both scales to parquet under the same layout ----
      val docs0 = graft.core.Tables(spark, dir).documents
        .select("doc_id", "text", "lang", "source", "n_chars")
      val emb0 = graft.core.Tables(spark, dir).embeddings
        .select("vec_id", "embedding", "label")
      val letters = "etaoinshrdlu" // 12 letters: rotation k%12 ∈ 1..11 is never identity
      def rot(k: Int): String = {
        val s = k % letters.length
        letters.drop(s) + letters.take(s)
      }
      // beyond 12 copies the rotation CYCLES (k and k+12 would be exact
      // duplicates — the first 100× run measured ~8-cliques of identical
      // docs, 2.05 M near-dup pairs instead of 100×254), and even a
      // sparse per-copy salt leaves same-rotation copies SHARING their
      // salt-free shingles — at factor 100 that shared-shingle family
      // made ppjoin's prefix-filter candidate mass quadratic in
      // copies-per-rotation (measured: the candidate join spilled >80 GB
      // and died on disk). So EVERY copy gets a per-copy salt token
      // every 2 words: every 3-shingle spans a salt, shingle spaces are
      // fully DISJOINT across copies at any factor, per-copy token
      // volume is uniform (no cross-decade volume conflation), and
      // within-copy dup structure is preserved verbatim.
      def docsCopy(k: Int): DataFrame = docs0.select(
        (col("doc_id") + lit(k.toLong * 1000000L)).as("doc_id"),
        regexp_replace(
          if (k % letters.length == 0) col("text")
          else translate(col("text"), letters, rot(k)),
          "((?:\\S+\\s+){2})", s"$$1zr$k ").as("text"),
        col("lang"), col("source"), col("n_chars"))
      // the CURATE lane needs a LANGUAGE-PRESERVING perturbation: the
      // letter rotation scrambles English, so every perturbed copy is
      // gated out by quality/langid and the funnel degenerates to the
      // 1x workload (measured: 4336 rows out at both scales). Instead,
      // a per-copy salt token every `saltEvery` words: stopword ratios
      // dilute UNIFORMLY across languages (langid unchanged), quality's
      // alpha/punct/length terms barely move, the salt token tops out at
      // 1/(saltEvery+1) ≤ 1/3 occupancy (under the 0.5 repetition
      // gate), and WITHIN-copy exact/near-dup structure is preserved
      // verbatim (the salt is a pure function of copy + position).
      // CROSS-copy 3-shingle jaccard = saltfree/(2·period − saltfree)
      // where period = saltEvery+1, saltfree = max(saltEvery−2, 0):
      //   saltEvery=2 → j ≈ 0 (every 3-shingle spans a salt token —
      //     truly independent copies, the CANONICAL decade lane: the
      //     cross-copy candidate term vanishes at any factor)
      //   saltEvery=3 → j ≈ 1/7 ≈ 0.14 (a mild tail: 8 bands × 2 rows
      //     collide at j² ≈ 0.02/band ≈ 0.16 candidates per copy pair —
      //     measurably super-linear by the SECOND decade, since the
      //     per-doc candidate count grows with the copy count)
      //   saltEvery=6 → j ≈ 1/3 (the NEAR-THRESHOLD plateau: collisions
      //     at j² ≈ 0.11 × 8 bands make most copy pairs CANDIDATES even
      //     though the 0.8 verify rejects every one — the documented
      //     experiment for where LSH candidate mass departs linear; see
      //     SCALING.md)
      // copy 0 is salted TOO (unlike the rotation lane): the lane's
      // 1x table must have the same per-row token/shingle volume as
      // every other copy, or the scale comparison conflates linear
      // growth with the salt's +1/(saltEvery+1) token inflation
      // (measured: 15.2x shuffle per 10x rows with copy 0 unsalted)
      val saltEvery = args.lift(2).flatMap(_.toIntOption).getOrElse(2)
      val allOps = Set("curate", "minhash_lsh", "ppjoin", "components_star",
        "ivfpq_topk")
      val ops: Set[String] = args.lift(3)
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(allOps)
      require((ops -- allOps).isEmpty, s"unknown ops: ${ops -- allOps}")
      def docsCopyQ(k: Int): DataFrame = docs0.select(
        (col("doc_id") + lit(k.toLong * 1000000L)).as("doc_id"),
        regexp_replace(col("text"),
          s"((?:\\S+\\s+){$saltEvery})", s"$$1zq$k ").as("text"),
        col("lang"), col("source"), col("n_chars"))
      def embCopy(k: Int): DataFrame = emb0.select(
        (col("vec_id") + lit(k.toLong * 1000000L)).as("vec_id"),
        (if (k == 0) col("embedding")
         else transform(col("embedding"), (x, i) =>
           (x + sin(i.cast("double") * lit(0.7) + lit(k.toDouble)) * lit(0.05f))
             .cast("float"))).as("embedding"),
        col("label"))
      def stage(name: String, scale: Int, of: Int => DataFrame): String = {
        val p = s"$scratch/$name$scale"
        (0 until scale).map(of).reduce(_.unionByName(_))
          .repartition(32).write.mode("overwrite").parquet(p)
        p
      }
      // stage only the lanes the selected ops read (docs: shingle ops +
      // the components edge generator; docsq: curate; emb: ivfpq)
      val needDocs = (ops - "curate" - "ivfpq_topk").nonEmpty
      val d1 = if (needDocs) stage("docs", 1, docsCopy) else ""
      val dF = if (needDocs) stage("docs", factor, docsCopy) else ""
      val q1 = if (ops("curate")) stage("docsq", 1, docsCopyQ) else ""
      val qF = if (ops("curate")) stage("docsq", factor, docsCopyQ) else ""
      val e1 = if (ops("ivfpq_topk")) stage("emb", 1, embCopy) else ""
      val eF = if (ops("ivfpq_topk")) stage("emb", factor, embCopy) else ""

      def measure(op: String, scale: Int)(df: => DataFrame): Unit = {
        graft.core.SessionHygiene.flush(spark)
        // lane isolation (r17 verdict #4): componentsStar read 11.5 s
        // in-sequence at 100x vs 3.95 s isolated — the prior lane's
        // garbage (dropped blocks, codegen classes, shuffle buffers)
        // was still live when this lane's window opened, so its first
        // collections paid the residue and the in-sequence wall/gc_s
        // were only trustworthy after a manual isolated re-run. Settle
        // the heap NOW, on every JVM that runs tasks: executor-side
        // System.gc via a tiny all-slots job (covers local-cluster
        // arms; on local[*] it settles the one shared JVM), then a
        // driver-side full GC, then a short drain sleep — each lane
        // starts from the same near-empty heap an isolated run gets.
        spark.sparkContext.parallelize(1 to 64, 64)
          .foreachPartition(_ => System.gc())
        System.gc()
        Thread.sleep(1000)
        lazy val frame = df
        val w = meter.measure(frame.write.mode("overwrite").format("noop").save())
        // the window closes HERE, before the rows count: count() is a
        // SECOND full execution of the plan, and closing the window
        // after it attributed ~2x bytes/spill/GC to one wall window
        // (ADVICE r16 #2). rows is informational and sits outside the
        // window by design.
        val rows = frame.count()
        val t = w.total
        // Locale.ROOT, same as Bench's jfix (ADVICE r17 #4): a
        // comma-decimal default locale would emit invalid JSON into the
        // SCALE record lines SCALING.md rows are transcribed from
        def jn(v: Double, dec: Int): String =
          String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
        println(s"""SCALE {"op":"$op","scale":$scale,"wall":${jn(w.wallS, 2)},"rows":$rows,"shuffle_read_mb":${jn(t.shuffleRead / 1e6, 1)},"shuffle_write_mb":${jn(t.shuffleWrite / 1e6, 1)},"input_mb":${jn(t.input / 1e6, 1)},"spill_mb":${jn(t.spill / 1e6, 1)},"gc_s":${jn(t.gcMs / 1e3, 1)}}""")
      }

      // componentsStar input: the gate's own edge generator, staged per
      // scale so ONLY the component rounds are timed
      def edges(docPath: String, scale: Int): String = {
        val p = s"$scratch/edges$scale"
        Dedup.ngramJaccard(spark.read.parquet(docPath), threshold = 0.5,
            maxDocFreq = Some(100L))
          .write.mode("overwrite").parquet(p)
        p
      }
      val eg1 = if (ops("components_star")) edges(d1, 1) else ""
      val egF = if (ops("components_star")) edges(dF, factor) else ""

      // ANN: train ONCE on the 1× corpus (bounded deterministic sample —
      // training is O(1) in corpus size by design); fixed 256-query
      // batch at both scales, so only the CORPUS side scales
      val (cents, cbs) =
        if (!ops("ivfpq_topk")) (Seq.empty[Array[Double]], Seq.empty[Seq[Array[Double]]])
        else {
          val embBase = spark.read.parquet(e1)
          (Similarity.trainKMeans(embBase, k = 8, iters = 3,
            "vec_id", "embedding", trainBound = 512),
            Similarity.pqTrain(embBase, m = 8, ksub = 64, iters = 2,
              trainBound = 512))
        }
      // a fresh parquet read per use, NOT localCheckpoint: the hygiene
      // flush between measurements drops checkpoint blocks
      def queries = spark.read.parquet(e1).filter(col("vec_id") < 256)

      Seq(1 -> (d1, q1, e1, eg1), factor -> (dF, qF, eF, egF)).foreach {
        case (scale, (dp, qp, ep, egp)) =>
          def docs = spark.read.parquet(dp)
          if (ops("curate"))
            measure("curate", scale)(Curation.curate(spark.read.parquet(qp)))
          if (ops("minhash_lsh"))
            measure("minhash_lsh", scale)(
              Dedup.minhashLsh(docs, threshold = 0.5))
          if (ops("ppjoin"))
            measure("ppjoin", scale)(
              Dedup.jaccardJoinPrefix(docs, threshold = 0.7,
                maxDocFreq = Some(100L)))
          if (ops("components_star"))
            measure("components_star", scale)(
              Dedup.componentsStar(spark.read.parquet(egp)))
          if (ops("ivfpq_topk"))
            measure("ivfpq_topk", scale)(
              Similarity.ivfPqTopK(queries, spark.read.parquet(ep), k = 5,
                nprobe = 5, cents, cbs, shortlist = 100))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
      spark.stop()
    }
  }
}
