package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.streaming.{LocalCheckpointFileManager, NioCheckpointFileManager, Streams}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The fork-free checkpoint file manager: Spark's CheckpointFileManager
  * contract on local paths, Spark's own manager elsewhere, and
  * checkpoints that restart across it and Spark's default manager. */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)
  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet
  private def read(f: java.nio.file.Path): String = new String(Files.readAllBytes(f), UTF_8)
  private def write(fm: LocalCheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }
  private def allFiles(dir: java.nio.file.Path): Seq[String] =
    Files.walk(dir).iterator.asScala.map(_.toString).toSeq
  /** Hadoop's `.name.crc` siblings (Spark's own state-store checksum
    * files are `name.crc`, and are not counted). */
  private def hadoopCrcs(dir: java.nio.file.Path): Seq[String] =
    allFiles(dir).filter(f => ChecksumFileSystem.isChecksumFile(new Path(f)))

  /** Runs `body` with the session's manager setting `cls` (None: unset,
    * Spark's default), then restores the previous setting. */
  private def withManager[T](cls: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(Key)
    cls.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    try body
    finally prev.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  test("createAtomic publishes nothing until close, and cancel leaves no file") {
    val dir = tmp("graft-ckpt-atomic")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.toUri.toString, "0"), overwriteIfPossible = false)
    out.write("first".getBytes(UTF_8))
    out.flush()
    assert(!Files.exists(dir.resolve("0")))
    out.close()
    assert(read(dir.resolve("0")) == "first")
    val cancelled = fm.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = false)
    cancelled.write("never".getBytes(UTF_8))
    cancelled.cancel()
    // no temp file, no .crc sibling: the directory holds only "0"
    assert(names(dir) == Set("0"))
  }

  test("a second writer without overwrite fails with FileAlreadyExistsException and changes nothing") {
    val dir = tmp("graft-ckpt-exists")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "7")
    write(fm, p, "mine", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "theirs", overwrite = false))
    assert(read(dir.resolve("7")) == "mine")
    assert(names(dir) == Set("7"))
    write(fm, p, "replaced", overwrite = true)
    assert(read(dir.resolve("7")) == "replaced")
  }

  test("an overwrite removes the stale Hadoop .crc sibling, so checksummed reads still work") {
    val dir = tmp("graft-ckpt-crc")
    val p = new Path(dir.toUri.toString, "state.delta")
    val local = FileSystem.getLocal(new Configuration())
    val o = local.create(p, true)
    o.write("old content".getBytes(UTF_8))
    o.close()
    assert(Files.exists(dir.resolve(".state.delta.crc")))
    val fm = manager(dir)
    write(fm, p, "new", overwrite = true)
    assert(!Files.exists(dir.resolve(".state.delta.crc")))
    // Spark's manager reads through Hadoop's checksummed local fs: a
    // stale .crc would fail this read
    val in = new FileSystemBasedCheckpointFileManager(p, new Configuration()).open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    val own = fm.open(p)
    try assert(new String(own.readAllBytes(), UTF_8) == "new") finally own.close()
  }

  test("list, exists, mkdirs and delete follow Spark's manager contract") {
    val dir = tmp("graft-ckpt-ops")
    val fm = manager(dir)
    val nested = new Path(dir.toUri.toString, "state/0/3")
    assert(!fm.exists(nested))
    fm.mkdirs(nested)
    fm.mkdirs(nested) // idempotent
    assert(fm.exists(nested) && Files.isDirectory(dir.resolve("state/0/3")))
    Seq("1.delta", "2.delta", "2.snapshot").foreach(n => write(fm, new Path(nested, n), n, overwrite = false))
    // a .crc sibling left by Spark's default manager is not listed
    Files.write(dir.resolve("state/0/3/.1.delta.crc"), Array[Byte](1, 2))
    assert(fm.list(nested).map(_.getPath.getName).toSet == Set("1.delta", "2.delta", "2.snapshot"))
    assert(fm.list(nested, (p: Path) => p.getName.endsWith(".delta")).map(_.getPath.getName).toSet ==
      Set("1.delta", "2.delta"))
    assert(fm.list(nested).find(_.getPath.getName == "2.snapshot").get.getLen == "2.snapshot".length)
    intercept[java.io.FileNotFoundException](fm.list(new Path(dir.toUri.toString, "missing")))
    fm.delete(new Path(nested, "1.delta"))
    assert(names(dir.resolve("state/0/3")) == Set("2.delta", "2.snapshot"))
    fm.delete(new Path(dir.toUri.toString, "missing")) // a missing path is not an error
    fm.delete(new Path(dir.toUri.toString, "state"))
    assert(names(dir).isEmpty)
    val root = manager(dir.resolve("fresh")).createCheckpointDirectory()
    assert(root.toUri.getScheme == "file" && Files.isDirectory(dir.resolve("fresh")))
  }

  test("local paths get the nio manager; any other scheme gets Spark's own") {
    val dir = tmp("graft-ckpt-scheme")
    assert(manager(dir).underlying.isInstanceOf[NioCheckpointFileManager])
    assert(manager(dir).isLocal)
    val conf = new Configuration()
    conf.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    // faulty:// has no FileContext binding, so Spark falls back to its
    // FileSystem-based manager, and so does this one
    val faulty = new LocalCheckpointFileManager(new Path(s"faulty://$dir/ckpt"), conf)
    assert(faulty.underlying.getClass == classOf[FileSystemBasedCheckpointFileManager])
    // a scheme-less path resolves against the default filesystem
    conf.set("fs.defaultFS", "faulty:///")
    val schemeless = new LocalCheckpointFileManager(new Path(s"$dir/ckpt"), conf)
    assert(schemeless.underlying.getClass == classOf[FileSystemBasedCheckpointFileManager])
  }

  test("Streams.start installs the manager only when the session names none") {
    implicit val sqlCtx = spark.sqlContext
    val mine = classOf[FileSystemBasedCheckpointFileManager].getName
    def startStop(): Unit = {
      val mem = MemoryStream[Int]
      val q = Streams.start(mem.toDF())(_.format("noop"))
      mem.addData(1)
      q.processAllAvailable()
      q.stop()
    }
    withManager(Some(mine)) {
      startStop()
      assert(spark.conf.get(Key) == mine)
    }
    // a manager set on the Hadoop conf (spark.hadoop.*) is kept too
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    hadoopConf.set(Key, mine)
    try withManager(None) {
      startStop()
      assert(spark.conf.getOption(Key).isEmpty)
    } finally hadoopConf.unset(Key)
    withManager(None) {
      startStop()
      assert(spark.conf.get(Key) == classOf[LocalCheckpointFileManager].getName)
    }
  }

  test("a graft stream's checkpoint and file-sink log hold no Hadoop .crc files after a run") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("graft-ckpt-stream")
    val (ckpt, out) = (dir.resolve("ckpt"), dir.resolve("out"))
    withManager(None) {
      val mem = MemoryStream[Int]
      // dropDuplicates keeps state, the parquet sink keeps _spark_metadata
      val q = Streams.start(mem.toDF().dropDuplicates("value"))(_.format("parquet")
        .option("path", out.toString).option("checkpointLocation", ckpt.toString))
      try {
        Seq(Seq(1, 2, 2), Seq(3, 1), Seq(4)).foreach { b =>
          mem.addData(b: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    val files = allFiles(dir)
    assert(files.exists(_.endsWith("/offsets/2")) && files.exists(_.endsWith("/commits/2")))
    assert(files.exists(_.contains("/state/0/")) && files.exists(_.endsWith("/_spark_metadata/2")))
    // the parquet part files are the sink's data, not checkpoint files
    assert(hadoopCrcs(ckpt).isEmpty && hadoopCrcs(out.resolve("_spark_metadata")).isEmpty,
      hadoopCrcs(dir))
    assert(spark.read.parquet(out.toString).as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }

  /** Counts words over `files` text files, one micro-batch per file,
    * restarting the stateful query from the same checkpoint once per
    * phase, each phase under its own manager; returns the final counts
    * and whether the checkpoint held a Hadoop .crc file after each phase. */
  private def countAcrossRestarts(phases: Seq[Option[String]]): (Map[String, Long], Seq[Boolean]) = {
    val dir = tmp("graft-ckpt-restart")
    val (in, ckpt) = (dir.resolve("in"), dir.resolve("ckpt"))
    Files.createDirectories(in)
    var last = Map.empty[String, Long]
    val crcs = phases.zipWithIndex.map { case (cls, i) =>
      Seq(0, 1).foreach { j =>
        val words = (0 until 40).map(w => s"w${(w * (i + 2) + j) % 7}")
        Files.write(in.resolve(s"part-$i-$j.txt"), words.mkString("\n").getBytes(UTF_8))
      }
      withManager(cls) {
        val q = spark.readStream.option("maxFilesPerTrigger", "1").text(in.toString)
          .groupBy("value").count()
          .writeStream.outputMode("complete").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            last = b.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          }
          .start()
        q.awaitTermination()
      }
      hadoopCrcs(ckpt).nonEmpty
    }
    (last, crcs)
  }

  test("stateful checkpoints restart across Spark's default manager and this one, with equal results") {
    val local = Some(classOf[LocalCheckpointFileManager].getName)
    val (defaultThenLocal, crc1) = countAcrossRestarts(Seq(None, local))
    val (localThenDefault, crc2) = countAcrossRestarts(Seq(local, None))
    val (localOnly, crc3) = countAcrossRestarts(Seq(local, local))
    // the default manager really ran: its phase left .crc files
    assert(crc1.head && !crc2.head && crc2.last && crc3 == Seq(false, false))
    assert(localOnly.values.sum == 4 * 40)
    assert(defaultThenLocal == localOnly && localThenDefault == localOnly)
  }
}
