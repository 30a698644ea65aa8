package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.gen.ChangeLogGen
import graft.gen.ChangeLogGen.GenConfig
import graft.lake.{LakeTable, NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}
import graft.stream.Tailer
import graft.stream.Tailer.TailerConfig
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

/** The engine's `file:` filesystem (graft.lake.NoForkLocalFs): table writes
  * and streaming checkpoints start no helper process, while modes, `.crc`
  * files, symlinks, missing paths and checkpoint restarts behave as with
  * Hadoop's own local filesystem.
  */
class LocalFsSpec extends SparkSpec {
  private val fileUri = URI.create("file:///")

  /** Commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(f) }
  }

  private case class Tail(tc: TailerConfig, events: Long, commands: Seq[String])

  /** A MOR tail: two replays on one checkpoint (one log file, then a
    * restart that finds the second), a direct merge, a bucket compaction
    * and a COW follow of the result, with every process start recorded.
    */
  private lazy val tail: Tail = {
    val base = tmpDir("nofork")
    val staged = s"$base/staged"
    ChangeLogGen.write(spark, GenConfig(seed = 11L, nEvents = 2000L, nFiles = 2), staged)
    val files = Files.list(Paths.get(staged)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    assert(files.size === 2)
    val tc = TailerConfig(logDir = s"$base/log", tableRoot = s"$base/table",
      checkpointDir = s"$base/ckpt", lineageDir = s"$base/lineage",
      metricsDir = s"$base/metrics", numBuckets = 8, tableMode = LakeTable.Mor)
    Files.createDirectories(Paths.get(tc.logDir))
    def expose(p: JPath): Unit = Files.copy(p, Paths.get(tc.logDir, p.getFileName.toString))
    expose(files.head)
    val commands = processStarts {
      Tailer.replay(spark, tc)
      expose(files(1))
      Tailer.replay(spark, tc)
      val table = LakeTable.open(tc.tableRoot)
      table.merge(spark, table.read(spark).limit(5)
        .withColumn("op", lit("U")).withColumn("seq", col("seq") + 1000L)
        .select(Tailer.mergeCols.map(col): _*), table.head().lastBatchId + 1)
      assert(table.compactBuckets(spark, maxFilesPerBucket = 1) > 0)
      Tailer.followInto(spark, tc.tableRoot, LakeTable(s"$base/mirror", 4), s"$base/follow-ckpt")
    }
    Tail(tc, spark.read.parquet(staged).count(), commands)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x1ff

  test("table writes and stream checkpoints start no chmod, readlink, ls or stat process") {
    val forked = tail.commands.filter { c =>
      Set("chmod", "readlink", "ls", "stat")(c.split(' ').head.split('/').last)
    }
    assert(forked.size === 0, s"forks, the first: ${forked.take(3)}")
    assert(FileSystem.get(fileUri, spark.sparkContext.hadoopConfiguration).getClass ===
      classOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(fileUri, spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.getClass === classOf[NoForkLocalFs])
  }

  test("table and checkpoint files keep Hadoop's modes under the session umask, and their .crc") {
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val written = Files.list(Paths.get(tail.tc.tableRoot, "data")).iterator.asScala.toSeq :+
      Paths.get(tail.tc.checkpointDir)
    val all = written.flatMap(d => Files.walk(d).iterator.asScala.toSeq)
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(dirs.nonEmpty && files.exists(_.toString.endsWith(".parquet")))
    dirs.foreach(d => assert(mode(d) === dirMode, d))
    files.foreach(f => assert(mode(f) === fileMode, f))
    val names = files.map(_.getFileName.toString).toSet
    assert(names.filter(_.endsWith(".parquet")).forall(n => names(s".$n.crc")))
    assert(names("0") && names(".0.crc"), "checkpoint log entries keep their checksums")

    // a umask other than the process's: the modes come from setPermission
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val fs = new NoForkLocalFileSystem
    fs.initialize(fileUri, conf)
    val dir = Paths.get(tmpDir("umask"))
    fs.create(new Path(dir.resolve("f").toUri)).close()
    fs.mkdirs(new Path(dir.resolve("d").toUri))
    val u = FsPermission.getUMask(conf)
    assert(mode(dir.resolve("f")) === FsPermission.getFileDefault.applyUMask(u).toShort.toInt)
    assert(mode(dir.resolve("d")) === FsPermission.getDirDefault.applyUMask(u).toShort.toInt)
    assert(Files.exists(dir.resolve(".f.crc")))
    fs.close()
  }

  test("getFileLinkStatus: a symlink reports its target, a missing path throws FileNotFoundException") {
    val dir = Paths.get(tmpDir("links"))
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val conf = new Configuration()
    val stock = new RawLocalFileSystem
    val ours = new NoForkRawLocalFileSystem
    Seq(stock, ours).foreach(_.initialize(fileUri, conf))
    val (s, o) = (stock.getFileLinkStatus(new Path(link.toString)),
      ours.getFileLinkStatus(new Path(link.toString)))
    assert(o.isSymlink && o.getSymlink === s.getSymlink)
    assert(o.getSymlink.toUri.getPath === target.toString)
    val plain = ours.getFileLinkStatus(new Path(target.toUri))
    assert(!plain.isSymlink && plain.isFile && plain.getLen === 1L)
    val fc = FileContext.getFileContext(fileUri, spark.sessionState.newHadoopConf())
    val viaFc = fc.getFileLinkStatus(new Path(link.toString))
    assert(viaFc.isSymlink && viaFc.getSymlink.toUri.getPath === target.toString)
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    Seq(stock, ours).foreach(_.close())
  }

  test("a replay restarted on its checkpoint resumes at the next batch, re-applying none") {
    val lineage = spark.read.parquet(tail.tc.lineageDir)
    val attempts = lineage.groupBy("batchId").agg(countDistinct("attempt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(attempts === Map(0L -> 1L, 1L -> 1L))
    assert(lineage.agg(sum("rowsApplied")).head.getLong(0) === tail.events)
  }
}
