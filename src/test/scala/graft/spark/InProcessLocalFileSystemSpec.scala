package graft.spark

import graft.SparkSpec
import graft.pages.{PageGen, PageModel, PagePipeline}
import graft.snapshot.{ContinuousRollup, SnapshotStore}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The session's `file:` filesystem: the same permission bits as
  * Hadoop's own `setPermission`, and no OS process for a write.
  */
class InProcessLocalFileSystemSpec extends SparkSpec {

  private def unixMode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Threads whose process starts are not the body's: Spark deletes the
    * artifact dirs of garbage-collected sessions on a `java.lang.ref.Cleaner`
    * thread (`rm -rf`, whenever GC gets to them), and the first metrics
    * poll of the JVM's heartbeaters reads the page size (`getconf PAGESIZE`).
    */
  private val BackgroundThreads = Seq("Cleaner-", "driver-heartbeater", "executor-heartbeater")

  /** Runs `body` under a JFR recording and returns the OS processes it
    * started (`jdk.ProcessStart` events).
    */
  private def processStartsDuring[A](body: => A): (A, Seq[RecordedEvent]) = {
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      val a = body
      recording.stop()
      val file = Files.createTempFile("process_starts", ".jfr")
      recording.dump(file)
      val events = RecordingFile.readAllEvents(file).asScala.toSeq
      Files.delete(file)
      val background = (e: RecordedEvent) =>
        Option(e.getThread).flatMap(t => Option(t.getJavaName)).exists(n => BackgroundThreads.exists(n.startsWith))
      (a, events.filter(e => e.getEventType.getName == "jdk.ProcessStart" && !background(e)))
    } finally recording.close()
  }

  test("every mode 000..777 leaves the bits Hadoop's own setPermission leaves; sticky takes Hadoop's path") {
    val hadoop = initialized(new RawLocalFileSystem)
    val inProcess = initialized(new InProcessRawLocalFileSystem)
    val dir = Files.createTempDirectory("fs_modes")
    val pairs = Seq(
      Files.createFile(dir.resolve("want_file")) -> Files.createFile(dir.resolve("got_file")),
      Files.createDirectory(dir.resolve("want_dir")) -> Files.createDirectory(dir.resolve("got_dir"))
    )
    for (mode <- 0 to 0x1ff; (want, got) <- pairs) {
      val perm = new FsPermission(mode.toShort)
      hadoop.setPermission(new Path(want.toUri), perm)
      inProcess.setPermission(new Path(got.toUri), perm)
      assert(unixMode(got) == unixMode(want), f"mode $mode%03o on ${got.getFileName}")
      assert(unixMode(got) == mode, f"mode $mode%03o on ${got.getFileName}")
    }
    // java.nio cannot set the sticky bit: it landing proves Hadoop's path ran
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    inProcess.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(unixMode(sticky) == Integer.parseInt("1755", 8))
    graft.snapshot.SnapshotStore.deleteRecursively(dir.toString)
  }

  test("the session's file: filesystem is the in-process one; an append and a pages update start no process") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[InProcessLocalFileSystem], fs.getClass.getName)
    val base = Files.createTempDirectory("fs_noproc").toString
    val root = s"$base/src"
    val tiers = s"$base/tiers"
    val pages = PageGen.corrupt(PageGen.clean(spark, 300L), fraction = 0.05)
    val (_, starts) = processStartsDuring {
      SnapshotStore.append(root, pages, tsCol = Some("warc_ts"))
      val model = PageModel.update(spark, root, tiers, 0L, SnapshotStore.currentSnapshotId(root))
      ContinuousRollup.update(
        spark, root, tiers, Seq("domain", "lang"), "warc_ts",
        length(col("html")).cast("long"),
        prepare = df => PagePipeline.repairWithCounts(df, model).withColumn("domain", PageGen.domainOf("url"))
      )
    }
    assert(ContinuousRollup.lastApplied(tiers) == 1L)
    val started = starts.map(e => s"${e.getString("command")} on ${e.getThread.getJavaName}").distinct
    assert(starts.isEmpty, s"${starts.size} processes: ${started.take(5)}")
    // checksums stay: every data file has its .crc sidecar
    val data = Files.walk(java.nio.file.Paths.get(tiers)).iterator().asScala.toSeq
    val parquet = data.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parquet.nonEmpty && parquet.forall(p => Files.exists(p.resolveSibling(s".${p.getFileName}.crc"))))
    // Hadoop's default umask (022): files 0644, dirs 0755
    assert(parquet.forall(p => unixMode(p) == Integer.parseInt("644", 8)))
    val partDirs = data.filter(_.getFileName.toString.startsWith("part_key="))
    assert(partDirs.nonEmpty && partDirs.forall(p => unixMode(p) == Integer.parseInt("755", 8)))
    SnapshotStore.deleteRecursively(base)
  }
}
