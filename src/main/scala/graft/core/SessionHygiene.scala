package graft.core

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Deterministic between-queries session cleanup for the harness mains
  * (Bench, Verify).
  *
  * Iterative operators ([[graft.operators.Dedup.components]] and
  * friends) truncate lineage with `localCheckpoint()`, whose blocks are
  * registered as persistent RDDs and normally reclaimed only after the
  * driver GCs the owning frame AND ContextCleaner notices — across a
  * 118-query session the dead rounds pile up in executor block storage
  * and tax every later query (BENCH r9/r10 showed `d_components`
  * drifting 3.8 s → 14.9 s from exactly this residue; `System.gc()`
  * between queries did NOT hold in the driver's environment). This
  * flush makes the cleanup explicit: every persistent RDD still
  * registered when a query finishes is dead by construction (queries
  * are standalone; nothing persists across them by design), so drop
  * them all, plus any cached Dataset in the catalog.
  *
  * On a real cluster the same call is the end-of-job hygiene for a
  * long-lived driver submitting many independent pipelines.
  *
  * A flush that fails is not the query's failure, so non-fatal errors
  * are dropped; an interrupt, a VM error or a control throwable
  * propagates (the flush runs in the `finally` of every harness gate).
  */
object SessionHygiene {
  def flush(spark: SparkSession): Unit = {
    try {
      // blocking = true: the whole point is that the NEXT timed query
      // starts with the blocks actually gone, not merely scheduled for
      // eviction while its clock runs; at harness call frequency
      // (once per query) the synchronous wait is noise
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    } catch { case NonFatal(_) => () }
  }
}
