package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The dump loop, factored out of main so PARTIAL-FAILURE behavior is
    * unit-testable (VerifySpec): writes oracle_sql.json FIRST — before
    * any query runs — then each query's parquet under its own
    * try/catch. A query that throws (or a loop death mid-way: OOM,
    * disk full) still leaves the full oracle map and every other
    * query's output on disk, so the driver records a PARTIAL
    * correctness result instead of an empty one (the r10 failure mode,
    * where one unrunnable oracle zeroed all 118 gates).
    *
    * Returns the names that failed. */
  def runAll(spark: SparkSession, sfDir: String, outDir: String,
             queries: Map[String, (SparkSession, String) => DataFrame],
             oracles: Map[String, String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val json = oracles
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    queries.toSeq.flatMap { case (name, fn) =>
      val t0 = System.nanoTime()
      val failed = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
      // deterministic per-query cleanup: localCheckpoint blocks of
      // iterative queries register as persistent RDDs; drop them now
      // instead of waiting for driver GC + ContextCleaner (same
      // hygiene as Bench — dead blocks from query 50 otherwise tax
      // query 51's executors)
      graft.core.SessionHygiene.flush(spark)
      failed
    }
  }

  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Extra args are a
    // builder-side convenience: gate names to restrict the dump to
    // (iterating on one operator without paying the full corpus;
    // oracle_sql.json still carries every oracle so check.py --only
    // style comparisons keep working against the subset).
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // fail FAST on unknown gate names: a typo'd filter would otherwise
    // silently intersect to an empty/partial query map and dump a
    // vacuously clean artifact — the exact empty-correctness shape that
    // once masqueraded as a pass (r10)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"Verify: unknown gate name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        s"known gates are SparkEntry.queries' keys")
    val spark = graft.core.SessionSetup.harness()
    val qs = if (only.isEmpty) SparkEntry.queries
             else SparkEntry.queries.view.filterKeys(only).toMap
    runAll(spark, sfDir, outDir, qs, SparkEntry.oracleSql)
    spark.stop()
  }
}
