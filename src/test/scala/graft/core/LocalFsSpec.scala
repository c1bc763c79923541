package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.Row
import graft.SparkSpec
import graft.sources.Sinks
import graft.streaming.StreamingJobs

/** [[LocalFs]]'s contract: the session serves `file:` with it through
  * both Hadoop APIs, it sets the bits stock `RawLocalFileSystem` sets,
  * FileContext's no-overwrite rename stays atomic, and a streaming
  * drain, a partitioned sink write and a compaction start no process
  * from Hadoop code.
  */
class LocalFsSpec extends SparkSpec {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  test("the session's FileSystem and FileContext for file: are LocalFs") {
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    assert(fs.isInstanceOf[LocalFs.Checked], fs.getClass)
    assert(FileSystem.getLocal(hadoopConf).getRaw.isInstanceOf[LocalFs])
    val afs = FileContext.getFileContext(hadoopConf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFs.Context], afs.getClass)
  }

  test("create and mkdirs set the bits stock RawLocalFileSystem sets") {
    val conf = new Configuration(hadoopConf)
    conf.set("fs.permissions.umask-mode", "027")
    def bits(fs: RawLocalFileSystem): (String, String) = {
      fs.initialize(new URI("file:///"), conf)
      val dir = tmp("graft_localfs_bits")
      val file = new Path(dir.toUri.toString, "f")
      val sub = new Path(dir.toUri.toString, "d/e")
      fs.create(file).close()
      assert(fs.mkdirs(sub))
      def mode(p: Path) = PosixFilePermissions.toString(
        Files.getPosixFilePermissions(fs.pathToFile(p).toPath))
      (mode(file), mode(sub))
    }
    val ours = bits(new LocalFs)
    assert(ours == bits(new RawLocalFileSystem))
    assert(ours == ("rw-r-----", "rwxr-x---"))
  }

  test("a FileContext rename with Rename.NONE onto an existing file throws") {
    val fc = FileContext.getFileContext(hadoopConf)
    val dir = tmp("graft_localfs_rename").toUri.toString
    val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
    Seq(src, dst).foreach(p => fc.create(p,
      java.util.EnumSet.of(CreateFlag.CREATE)).close())
    intercept[FileAlreadyExistsException](
      fc.rename(src, dst, Options.Rename.NONE))
    assert(fc.util.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src) && fc.util.exists(dst))
  }

  test("a drain, a partitioned write and a compaction start no process " +
      "from Hadoop code") {
    val base = tmp("graft_localfs_forks").toString
    val landing = s"$base/landing"
    spark.createDataFrame(
      (0 until 40).map(i => Row("/p", "ref", "ua", s"h${i % 3}.com",
        s"10.0.0.${i % 5}", "{}", f"2024-01-01T00:${i % 60}%02d:00.000Z"))
        .asJava,
      StreamingJobs.webEventSchema).write.parquet(landing)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      StreamingJobs.incrementalDrain(spark, landing, s"$base/ckpt",
        s"$base/out", StreamingJobs.tumblingHostAgg)
      Sinks.savePartitioned(spark.read.parquet(landing), "t_localfs",
        Seq("host"))
      assert(Sinks.compact(spark, "t_localfs")._1 > 1)
    } finally {
      rec.stop()
      spark.sql("DROP TABLE IF EXISTS t_localfs")
    }
    val jfr = Files.createTempFile("graft_localfs", ".jfr")
    rec.dump(jfr)
    rec.close()
    val fromHadoop = RecordingFile.readAllEvents(jfr).asScala.filter(e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop"))))
    Files.delete(jfr)
    assert(fromHadoop.isEmpty, s"${fromHadoop.size} processes from " +
      s"Hadoop, e.g. ${fromHadoop.take(3).map(_.getString("command"))}")
  }
}
