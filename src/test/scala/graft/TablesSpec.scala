package graft

import java.nio.file.Files

import graft.core.Tables
import graft.tools.Meter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, TimestampType}

class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Spark jobs run while `body` builds a frame (no action on it). */
  private def jobsToBuild(body: => DataFrame): (Int, DataFrame) = {
    val meter = new Meter(spark.sparkContext)
    try {
      var df: DataFrame = null
      val w = meter.measure { df = body }
      (w.jobs.size, df)
    } finally meter.close()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def scratch(): String = Files.createTempDirectory("graft-tables").toString

  test("a warm read of each fixture table runs no job and reads the plain read's rows") {
    val t = Tables(spark, dir)
    val tables = Seq[(String, Tables => DataFrame)](
      "region" -> (_.region), "nation" -> (_.nation), "customer" -> (_.customer),
      "supplier" -> (_.supplier), "part" -> (_.part), "orders" -> (_.orders),
      "lineitem" -> (_.lineitem), "events" -> (_.rawEvents),
      "documents" -> (_.documents), "embeddings" -> (_.embeddings))
    tables.foreach { case (name, read) =>
      read(t) // the driver's first read of the file may infer
      val (jobs, warm) = jobsToBuild(read(t))
      assert(jobs == 0, s"$name: a warm read ran $jobs job(s)")
      val plain = spark.read.parquet(s"$dir/$name.parquet")
      assert(warm.schema == plain.schema, name)
      assert(rows(warm) == rows(plain), name)
    }
  }

  test("a file rewritten at the same path with another schema is read with the new schema") {
    val path = s"${scratch()}/t.parquet"
    spark.range(5).toDF("a").write.parquet(path)
    Tables.read(spark, path)
    val (warmJobs, warm) = jobsToBuild(Tables.read(spark, path))
    assert(warmJobs == 0 && warm.schema("a").dataType == LongType)
    spark.range(3).selectExpr("cast(id as string) as a", "id as b")
      .write.mode("overwrite").parquet(path)
    val (jobs, df) = jobsToBuild(Tables.read(spark, path))
    assert(jobs >= 1, "a rewritten file must be inferred again")
    assert(df.schema.fieldNames.toSeq == Seq("a", "b") && df.schema("a").dataType == StringType)
    assert(rows(df) == Seq("[0,0]", "[1,1]", "[2,2]"))
  }

  test("a self-join of two reads of one table equals the plain-read self-join") {
    val path = s"$dir/nation.parquet"
    def selfJoin(a: DataFrame, b: DataFrame) =
      a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey"))
        .select(a("n_nationkey"), b("n_nationkey"))
    Tables.read(spark, path)
    val (jobs, a) = jobsToBuild(Tables.read(spark, path))
    val b = Tables.read(spark, path)
    assert(jobs == 0)
    assert(a.queryExecution.analyzed.output.map(_.exprId).intersect(
      b.queryExecution.analyzed.output.map(_.exprId)).isEmpty, "reads must not share attributes")
    val plain = selfJoin(spark.read.parquet(path), spark.read.parquet(path))
    assert(rows(selfJoin(a, b)) == rows(plain) && rows(plain).nonEmpty)
  }

  test("a file rewritten with the same schema is read fresh") {
    val path = s"${scratch()}/same.parquet"
    spark.range(5).toDF("a").write.parquet(path)
    assert(rows(Tables.read(spark, path)) == (0 until 5).map(i => s"[$i]"))
    assert(rows(Tables.read(spark, path)) == (0 until 5).map(i => s"[$i]"))
    spark.range(10, 13).toDF("a").write.mode("overwrite").parquet(path)
    assert(rows(Tables.read(spark, path)) == Seq("[10]", "[11]", "[12]"))
  }

  test("after stop(), a new session reads correctly and does not reuse the old relation") {
    // a session cannot be stopped inside the shared test JVM: run
    // TablesRestartMain in its own JVM on this one's class path
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(a => a.startsWith("-Xm") || a.startsWith("-agent") || a.startsWith("-javaagent"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.TablesRestartMain", s"$dir/nation.parquet")
    val proc = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.mkString("\n"))
    val n = spark.read.parquet(s"$dir/nation.parquet").count()
    assert(out.contains(s"RESULT $n $n own-session reused"), out.mkString("\n"))
  }

  test("changing spark.sql.parquet.binaryAsString infers again") {
    // a file without Spark's schema in its footer: a bare BINARY column,
    // as other writers produce it; Spark's own files would pin the type
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val path = s"${scratch()}/bin.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required binary s; }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("s", "x"))
    finally writer.close()

    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      Tables.read(spark, path)
      val (warmJobs, warm) = jobsToBuild(Tables.read(spark, path))
      assert(warmJobs == 0 && warm.schema("s").dataType == BinaryType)
      spark.conf.set(key, "true")
      val (jobs, df) = jobsToBuild(Tables.read(spark, path))
      assert(jobs >= 1 && df.schema("s").dataType == StringType)
      assert(rows(df) == Seq("[x]"))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a directory with a subdirectory infers on every read") {
    val path = s"${scratch()}/parts"
    spark.range(6).selectExpr("id", "id % 2 as p").write.partitionBy("p").parquet(path)
    Tables.read(spark, path)
    val (jobs, df) = jobsToBuild(Tables.read(spark, path))
    assert(jobs >= 1, "a partitioned directory must be read the plain way")
    assert(rows(df) == rows(spark.read.parquet(path)))
  }

  test("events keeps a session-zone TIMESTAMP ts on every read") {
    val t = Tables(spark, dir)
    val first = t.events
    val (_, warm) = jobsToBuild(t.events)
    Seq(first, warm, t.normalizeEventsTs(t.rawEvents)).foreach { df =>
      assert(df.schema("ts").dataType == TimestampType, df.schema)
    }
    assert(rows(warm) == rows(first))
  }
}

/** Reads a table in one `local[1]` session, stops it, starts another and
  * reads the table again; prints `RESULT <rows> <rows> <relation check>`.
  * Run by TablesSpec in its own JVM. */
object TablesRestartMain {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelationWithTable}

  private def session(): SparkSession = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "1")
    .getOrCreate()

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelationWithTable(r: HadoopFsRelation, _) => r
    }.get

  def main(args: Array[String]): Unit = {
    val path = args(0)
    val first = session()
    Tables.read(first, path)
    val n1 = Tables.read(first, path).count()
    first.stop()
    val second = session()
    val df = Tables.read(second, path)
    val own = if (relation(df).sparkSession eq second) "own-session" else "stale-session"
    val n2 = df.count()
    val reused = if (relation(Tables.read(second, path)) eq relation(df)) "reused" else "not-reused"
    println(s"RESULT $n1 $n2 $own $reused")
    second.stop()
  }
}
