package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, FsConstants,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sink.PartitionedParquetSink.SinkConfig
import graft.storage.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.streaming.{StreamingIngest, StreamingQualityGate, StreamingRollup}

/** [[NioRawLocalFileSystem]] and its checksummed and `FileContext`
  * twins behave as Hadoop's local file systems do, and the ingest loop
  * that holds them forks no process per file or checkpoint rename. */
class LocalFsSpec extends SparkSpec {

  private def hadoopConf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (stock, NIO) raw local file systems over one conf. */
  private def rawPair(conf: Configuration): Seq[(String, FileSystem)] =
    Seq("stock" -> new RawLocalFileSystem, "nio" -> new NioRawLocalFileSystem).map {
      case (name, fs) => fs.initialize(FsConstants.LOCAL_FS_URI, conf); name -> fs
    }

  /** Permission bits of a local path, sticky bit included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x0fff

  test("file and mkdirs modes match RawLocalFileSystem under two umasks") {
    val base = tempDir("graft-localfs-mode")
    for ((umask, fileMode, dirMode) <- Seq(("022", "644", "755"), ("077", "600", "700"))) {
      val modes = rawPair(hadoopConf(umask)).map { case (name, fs) =>
        val root = s"$base/$umask-$name"
        fs.create(new Path(s"$root/p/f")).close()
        assert(fs.mkdirs(new Path(s"$root/a/b/c")))
        val explicit = new Path(s"$root/e")
        fs.create(explicit).close()
        fs.setPermission(explicit, new FsPermission(Integer.parseInt("640", 8).toShort))
        name -> Seq("p", "p/f", "a", "a/b", "a/b/c", "e").map(r => r -> mode(s"$root/$r"))
      }.toMap
      assert(modes("nio") === modes("stock"), s"umask $umask")
      val byPath = modes("nio").toMap
      assert(byPath("p/f") === Integer.parseInt(fileMode, 8), s"umask $umask")
      assert(byPath("a/b/c") === Integer.parseInt(dirMode, 8), s"umask $umask")
      assert(byPath("e") === Integer.parseInt("640", 8))
    }
  }

  test("the sticky bit falls back to RawLocalFileSystem's chmod") {
    val base = tempDir("graft-localfs-sticky")
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val modes = rawPair(hadoopConf()).map { case (name, fs) =>
      val dir = new Path(s"$base/$name")
      assert(fs.mkdirs(dir))
      fs.setPermission(dir, sticky)
      name -> mode(dir.toString)
    }.toMap
    assert(modes("nio") === Integer.parseInt("1777", 8))
    assert(modes("nio") === modes("stock"))
  }

  test("getFileLinkStatus matches RawLocalFileSystem on a file, a directory, a missing path and a symlink") {
    val base = tempDir("graft-localfs-link")
    Files.write(Paths.get(s"$base/file"), "abc".getBytes(UTF_8))
    Files.createDirectory(Paths.get(s"$base/dir"))
    Files.createSymbolicLink(Paths.get(s"$base/link"), Paths.get(s"$base/file"))
    def summary(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
       if (s.isSymlink) Some(s.getSymlink) else None, s.getLen,
       s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    val fss = rawPair(hadoopConf()).toMap
    for (name <- Seq("file", "dir", "link"); qualified <- Seq(false, true)) {
      val p = if (qualified) new Path(s"file:$base/$name") else new Path(s"$base/$name")
      val Seq(stock, nio) = Seq("stock", "nio").map(n => summary(fss(n).getFileLinkStatus(p)))
      assert(nio === stock, s"$p")
    }
    val link = fss("nio").getFileLinkStatus(new Path(s"$base/link"))
    assert(link.isSymlink && link.getSymlink.toUri.getPath === s"$base/file")
    Seq("stock", "nio").foreach { n =>
      intercept[FileNotFoundException](fss(n).getFileLinkStatus(new Path(s"$base/missing")))
    }
  }

  test("renames carry their .crc through FileSystem and FileContext") {
    val base = tempDir("graft-localfs-crc")
    val conf = hadoopConf()
    NioLocalFileSystem.Confs.foreach { case (k, v) => conf.set(k, v) }
    def sideFiles(dir: String): Set[String] =
      new java.io.File(dir).list().toSet

    // FileSystem API: the checksummed NIO file system against LocalFileSystem
    val fsNames = Seq("stock" -> new LocalFileSystem, "nio" -> new NioLocalFileSystem).map {
      case (name, fs) =>
        fs.initialize(FsConstants.LOCAL_FS_URI, conf)
        val dir = s"$base/fs-$name"
        val out = fs.create(new Path(s"$dir/a"))
        out.write("payload".getBytes(UTF_8)); out.close()
        assert(fs.rename(new Path(s"$dir/a"), new Path(s"$dir/b")))
        val in = fs.open(new Path(s"$dir/b")) // reading verifies the moved .crc
        try assert(new String(in.readAllBytes(), UTF_8) === "payload") finally in.close()
        name -> sideFiles(dir)
    }.toMap
    assert(fsNames("nio") === Set("b", ".b.crc"))
    assert(fsNames("nio") === fsNames("stock"))
    assert(new Path(s"$base/x").getFileSystem(conf).isInstanceOf[NioLocalFileSystem])

    // FileContext: what Spark's default checkpoint manager uses
    val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val dir = s"$base/fc"
    val out = fc.create(new Path(s"$dir/.a.tmp"),
      java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    out.write("entry".getBytes(UTF_8)); out.close()
    fc.rename(new Path(s"$dir/.a.tmp"), new Path(s"$dir/0"), Options.Rename.OVERWRITE)
    assert(sideFiles(dir) === Set("0", ".0.crc"))
    val in = fc.open(new Path(s"$dir/0"))
    try assert(new String(in.readAllBytes(), UTF_8) === "entry") finally in.close()
  }

  /** `body`'s result and every process started while it ran, as
    * (thread, command), from a JFR recording of `jdk.ProcessStart`
    * dumped under `dir`. */
  private def processStarts[T](dir: String)(body: => T): (T, Seq[(String, String)]) = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    val dump = Paths.get(dir, "starts.jfr")
    val result =
      try { recording.start(); body }
      finally { recording.stop(); recording.dump(dump); recording.close() }
    (result, RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => (Option(e.getThread).map(_.getJavaName).getOrElse("?"), e.getString("command"))))
  }

  /** Runs `q` to termination; the number of batches that read rows. */
  private def batchesOf(q: StreamingQuery): Int = {
    q.awaitTermination()
    q.recentProgress.count(_.numInputRows > 0)
  }

  /** The starts on a stream-execution or executor task thread, counted
    * per command ("chmod x12"); empty when the loop forked nothing. */
  private def onLoop(starts: Seq[(String, String)]): String =
    starts.collect { case (thread, command)
        if thread.startsWith("stream execution thread") ||
          thread.startsWith("Executor task launch worker") => command.split(' ').head }
      .groupBy(identity).map { case (c, cs) => s"$c x${cs.size}" }.mkString(", ")

  test("manifest ingest forks no process on the stream-execution or write-task threads") {
    val base = tempDir("graft-localfs-forks")
    val rows = Tables.events(spark, sf)
    rows.repartition(60).write.parquet(s"$base/src")
    val events = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "20").parquet(s"$base/src")
    val cfg = SinkConfig(base, "events", tsColumn = "ts", granularity = "hourly")
    // Hadoop's Shell probes for setsid once per JVM, on first use
    assert(!org.apache.hadoop.util.Shell.WINDOWS)

    val (batches, starts) = processStarts(base)(batchesOf(
      StreamingIngest.ingestWithManifest(events, cfg, s"$base/chk", s"$base/manifest")))
    assert(batches === 3)
    assert(spark.read.parquet(s"$base/events").count() === rows.count())
    assert(onLoop(starts) === "", s"process starts on the ingest loop (of ${starts.size})")
  }

  test("the other streaming queries fork no process on the stream-execution or write-task threads") {
    val base = tempDir("graft-localfs-forks-all")
    val rows = Tables.events(spark, sf)
    rows.repartition(3).write.parquet(s"$base/src")
    def events = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val docs = spark.range(30).select(col("id").as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog").as("text"))
    docs.repartition(3).write.parquet(s"$base/docs")
    assert(!org.apache.hadoop.util.Shell.WINDOWS) // the setsid probe, before recording

    val queries: Seq[(String, String => StreamingQuery)] = Seq(
      "file-stream sink" -> (dir => StreamingIngest.ingest(events,
        SinkConfig(dir, "events", tsColumn = "ts", granularity = "hourly"), s"$dir/chk")),
      "Iceberg rollup (CDC commit)" -> (dir =>
        StreamingRollup.maintainIceberg(events, s"$dir/tbl", s"$dir/chk")),
      "rollup snapshot" -> (dir => StreamingRollup.maintain(events, s"$dir/mv", s"$dir/chk")),
      "materialized view" -> (dir => StreamingIngest.materializedWindowCounts(
        events, s"$dir/mv", s"$dir/chk", watermark = "720 hours")),
      "quality gate" -> (dir => StreamingQualityGate.run(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$base/docs"), s"$dir/accept", s"$dir/reject", s"$dir/chk")))
    val forked = queries.map { case (name, start) =>
      val dir = s"$base/${name.filter(_.isLetter)}"
      val (batches, starts) = processStarts(base)(batchesOf(start(dir)))
      assert(batches === 3, name)
      name -> onLoop(starts)
    }
    assert(forked.filter(_._2.nonEmpty) === Nil)
  }
}
