package graft

import graft.core.SessionHygiene

class SessionHygieneSpec extends SparkSpec {
  test("flush lets an interrupt through") {
    val rdd = spark.sparkContext.parallelize(1 to 100, 2).cache()
    rdd.count()
    var thrown: Option[Throwable] = None
    var flagAfter = false
    val t = new Thread(() => {
      Thread.currentThread().interrupt()
      try SessionHygiene.flush(spark)
      catch { case e: Throwable => thrown = Some(e) }
      flagAfter = Thread.currentThread().isInterrupted
    })
    t.start(); t.join()
    SessionHygiene.flush(spark)
    assert(thrown.exists(_.isInstanceOf[InterruptedException]),
      s"thrown=$thrown, interrupt flag after the flush=$flagAfter")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
