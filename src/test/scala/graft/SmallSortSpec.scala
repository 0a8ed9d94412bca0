package graft

import graft.core.SmallSort
import graft.tools.Meter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class SmallSortSpec extends SparkSpec {
  private val key = "spark.sql.autoBroadcastJoinThreshold"

  /** 200 rows over 4 partitions; `k` is null on every 7th row. */
  private def input: DataFrame =
    spark.range(0, 200, 1, 4).select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise((col("id") * 37) % 101).as("k"))

  /** Rows of `input` sorted by `order`, and the jobs the sort ran. */
  private def sorted(order: Column, threshold: String): (Seq[(Long, Option[Long])], Int) = {
    val prev = spark.conf.get(key)
    val meter = new Meter(spark.sparkContext)
    try {
      spark.conf.set(key, threshold)
      var rows: Seq[(Long, Option[Long])] = Nil
      val w = meter.measure {
        rows = input.orderBy(order, col("id")).collect().toSeq
          .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      }
      (rows, w.jobs.size)
    } finally {
      meter.close()
      spark.conf.set(key, prev)
    }
  }

  test("rule on and off give equal rows for asc, desc and nulls-first/last; 1 job against 3") {
    SmallSort.install(spark)
    val orders = Seq("asc" -> col("k").asc, "desc" -> col("k").desc,
      "asc_nulls_last" -> col("k").asc_nulls_last, "desc_nulls_first" -> col("k").desc_nulls_first)
    orders.foreach { case (name, order) =>
      val (on, onJobs) = sorted(order, "10MB")
      val (off, offJobs) = sorted(order, "-1")
      assert(on == off, name)
      assert(on.size == 200 && on.map(_._1).toSet == (0L until 200L).toSet, name)
      assert(onJobs == 1 && offJobs == 3, s"$name: jobs on $onJobs, off $offJobs")
    }
    // the orderings really differ where the nulls go
    assert(sorted(col("k").asc, "10MB")._1.head._2.isEmpty)
    assert(sorted(col("k").asc_nulls_last, "10MB")._1.last._2.isEmpty)
  }

  test("installing the rule is idempotent, also from concurrent threads") {
    val threads = (1 to 4).map(_ => new Thread(() => SmallSort.install(spark)))
    threads.foreach(_.start())
    threads.foreach(_.join())
    SmallSort.install(spark)
    assert(spark.experimental.extraOptimizations.count(_ eq SmallSort) == 1)
  }
}
