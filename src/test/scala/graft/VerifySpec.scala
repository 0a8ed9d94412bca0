package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partial-failure contract of the correctness dump (the r10
  * postmortem's done-criterion: a deliberately-broken query must still
  * yield every OTHER query's output plus the full oracle map, never an
  * empty record).
  */
class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("a broken query leaves the oracle map and every other output intact") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "good_a" -> ((s, _) => { import s.implicits._; Seq((1, "x")).toDF("id", "v") }),
      "boom"   -> ((_, _) => sys.error("deliberately broken")),
      "good_b" -> ((s, _) => { import s.implicits._; Seq((2, "y")).toDF("id", "v") }),
      // an ANALYSIS-time failure (unresolved column), not just a
      // runtime throw — the commonest real breakage class
      "bad_col" -> ((s, _) => { import s.implicits._;
        Seq(1).toDF("id").select(org.apache.spark.sql.functions.col("nope")) })
    )
    val oracles = Map(
      "good_a" -> "SELECT 1 AS id, 'x' AS v",
      "boom" -> "SELECT 1",
      "good_b" -> "SELECT 2 AS id, 'y' AS v",
      "bad_col" -> "SELECT 1",
      // a key with a tab+quote: the escape path the driver's json.load
      // depends on
      "esc" -> "SELECT\t'\"quoted\"'")
    val failed = Verify.runAll(spark, "unused", out, queries, oracles)
    assert(failed.toSet == Set("boom", "bad_col"))
    // the survivors' parquet is readable and right
    val a = spark.read.parquet(s"$out/good_a").as[(Int, String)].collect()
    val b = spark.read.parquet(s"$out/good_b").as[(Int, String)].collect()
    assert(a.toSeq == Seq((1, "x")) && b.toSeq == Seq((2, "y")))
    // oracle_sql.json was written FIRST and parses as strict JSON with
    // ALL five entries — including for the broken queries (the driver
    // decides what to do with a missing parquet; the MAP must be whole)
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/oracle_sql.json")), "UTF-8")
    assert(json.contains("\"good_a\"") && json.contains("\"boom\"") &&
      json.contains("\"bad_col\"") && json.contains("\"esc\""))
    assert(json.contains("\\t") && json.contains("\\\"quoted\\\""))
  }

  test("SessionHygiene.flush empties the persistent-RDD registry synchronously") {
    // the residue class behind the r9/r10 bench drift: localCheckpoint
    // registers blocks that outlive their query; flush must leave the
    // registry EMPTY when it returns (blocking unpersist), not merely
    // scheduled-for-eviction
    val df = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    assert(df.count() == 3)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    graft.core.SessionHygiene.flush(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("Json.quote round-trips a quote, a backslash, a tab and a control character") {
    val s = "a\"b\\c\td\u0001e"
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(graft.core.Json.quote(s))
    assert(node.isTextual && node.asText == s)
  }
}
