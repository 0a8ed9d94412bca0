package graft

import graft.operators.Dedup
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property checks for the exact set-similarity join family. The gate
  * (`d_ppjoin`) pins the PPJoin prefix filter's completeness against a
  * plain exact θ-join oracle on one corpus; these pin the equality
  * against [[Dedup.ngramJaccard]] (an independent candidate scheme over
  * the same shingle derivation) on seeded random corpora engineered for
  * the filter's hard cases: heavy token reuse (hot shingles), clone
  * clusters (many tied doc-freqs → order tie-breaks matter), wide size
  * spread (length-filter boundaries), and thresholds at both ends.
  */
class DedupPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  /** Random corpus over a tiny vocabulary so shingle collisions are
    * dense: base docs, mutated near-clones, and exact clones. */
  private def corpus(n: Int, seed: Long): Seq[(Long, String)] = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val doc = for {
      len <- Gen.choose(4, 14)
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    val bases = samples(doc, n, seed)
    val mutated = bases.zipWithIndex.collect { case (t, i) if i % 3 == 0 =>
      t.replaceFirst("\\w+", "omega")          // near-clone: one token swapped
    }
    val clones = bases.zipWithIndex.collect { case (t, i) if i % 4 == 0 => t }
    (bases ++ mutated ++ clones).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  test("jaccardJoinPrefix == ngramJaccard on seeded random corpora across thresholds and caps") {
    for (round <- 0 until 3) {
      val docs = corpus(30, seed = 7L + round * 1013).toDF("doc_id", "text")
      for (th <- Seq(0.25, 0.6, 0.85); cap <- Seq(None, Some(8L))) {
        val ref = Dedup.ngramJaccard(docs, threshold = th, maxDocFreq = cap)
          .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
        val pp = Dedup.jaccardJoinPrefix(docs, threshold = th, maxDocFreq = cap)
          .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
        assert(pp == ref, s"round=$round threshold=$th cap=$cap")
        assert(round == 0 || th > 0.8 || ref.nonEmpty,
          s"vacuous round: no pairs at round=$round th=$th")
      }
    }
  }

  test("ppjoinStats: the verified count is the operator's output and candidates cover it") {
    val docs = corpus(30, seed = 7L).toDF("doc_id", "text")
    val stats = Dedup.ppjoinStats(docs, threshold = 0.6).toMap
    val verified = Dedup.jaccardJoinPrefix(docs, threshold = 0.6).count()
    assert(verified > 0, "vacuous corpus: no verified pairs")
    assert(stats("verified_pairs") == verified)
    assert(stats("candidate_pairs") >= stats("verified_pairs"))
  }
}
