package graft

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.io.NioLocalFileSystem

/** The fork-free local filesystem (`graft.io.LocalFs`): no process
  * starts on the engine's write and commit paths, and permissions and
  * link statuses match Hadoop's own `LocalFileSystem`. */
class LocalFsSpec extends SparkSpecBase {

  /** The commands of the processes `body` starts, from a JFR recording
    * of `jdk.ProcessStart`. */
  private def processesDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(e => Option(e.getString("command")).getOrElse(""))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def localFs(umask: String): (FileSystem, FileSystem) = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    val nio = new NioLocalFileSystem()
    nio.initialize(URI.create("file:///"), conf)
    (stock, nio)
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)

  test("no chmod, readlink or stat process starts on a TSV write, a parquet write or a stateful stream trigger") {
    import spark.implicits._
    // The FileSystem cache keys on scheme and user, not on conf (the
    // LocalFs caveat): drop a stock `file:` instance an earlier caller
    // cached through a plain Configuration, so the session's applies.
    val hadoopConf = spark.sessionState.newHadoopConf()
    val cached = FileSystem.get(URI.create("file:///"), hadoopConf)
    if (!cached.isInstanceOf[NioLocalFileSystem]) cached.close()
    assert(FileSystem.get(URI.create("file:///"), hadoopConf).isInstanceOf[NioLocalFileSystem])

    val tmp = Files.createTempDirectory("graft_forks")
    val strategy = graft.model.DTypes.registry("star_counts")
      .strategy.asInstanceOf[graft.model.DTypes.SampleColumnsMatrix]
    val landing = Files.createDirectory(tmp.resolve("landing"))
    Files.list(Paths.get("fixtures/star_counts")).iterator.asScala.toSeq.sortBy(_.toString).take(2)
      .foreach(f => Files.copy(f, landing.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    val schema = graft.streaming.MatrixStream.rawSchema(spark, landing.toString, strategy.read)
    val df = Seq(("g1", 1.5), ("g2", 2.5)).toDF("id", "s1")

    val forks = processesDuring {
      graft.io.XenaTsv.write(df, s"$tmp/m.tsv", rowKey = Some("id"))
      df.write.mode("overwrite").parquet(s"$tmp/m.parquet")
      val q = graft.streaming.MatrixStream
        .incrementalLongMatrix(spark, landing.toString, strategy, schema)
        .writeStream.outputMode("complete").format("memory").queryName("fork_guard")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    assert(spark.table("fork_guard").count() > 0, "the trigger aggregated nothing")
    val banned = forks.filter(c => Set("chmod", "readlink", "stat")
      .contains(c.trim.split("\\s+").head.split('/').last))
    assert(banned.isEmpty, s"${banned.size} forks: ${banned.take(5).mkString("; ")}")
  }

  test("a session-less caller's conf resolves file: to the fork-free filesystem") {
    // getFileSystemClass reads the conf only: the FileSystem cache is
    // not touched. A plain conf gets the service loader's choice.
    assert(FileSystem.getFileSystemClass("file", graft.io.LocalFs.hadoopConf()) ==
      classOf[NioLocalFileSystem])
    assert(FileSystem.getFileSystemClass("file", new Configuration()) != classOf[NioLocalFileSystem])
  }

  test("file and dir modes match a stock LocalFileSystem's; explicit 0700 holds; the sticky bit falls back") {
    for (umask <- Seq("022", "077", "027")) {
      val (stock, nio) = localFs(umask)
      val dirs = Seq(stock, nio).map { fs =>
        val d = Files.createTempDirectory("graft_perm")
        fs.create(new Path(s"$d/f")).close()
        assert(fs.mkdirs(new Path(s"$d/sub/leaf")))
        d
      }
      for (rel <- Seq("f", ".f.crc", "sub", "sub/leaf"))
        assert(mode(dirs(0).resolve(rel)) == mode(dirs(1).resolve(rel)),
          f"umask $umask: $rel mode ${mode(dirs(1).resolve(rel))}%o, stock ${mode(dirs(0).resolve(rel))}%o")
    }
    val (_, nio) = localFs("022")
    val d = Files.createTempDirectory("graft_perm_explicit")
    nio.setPermission(new Path(d.toString), new FsPermission("700"))
    assert(mode(d) == Integer.parseInt("700", 8))
    // No nio form for the sticky bit: Hadoop's chmod sets it.
    nio.setPermission(new Path(d.toString), new FsPermission("1777"))
    assert(mode(d) == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus and getLinkTarget match Hadoop's for files, dirs, symlinks and dangling links") {
    val (stock, nio) = localFs("022")
    val d = Files.createTempDirectory("graft_links")
    Files.writeString(d.resolve("file"), "abc")
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("to_file"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("to_dir"), Paths.get("dir"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    def view(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath, s.isSymlink, s.isDirectory, s.getLen,
        if (s.isSymlink) Some(s.getSymlink) else None, s.getPermission, s.getOwner)
    for (name <- Seq("file", "dir", "to_file", "to_dir", "dangling");
         p <- Seq(new Path(s"$d/$name"), new Path(s"file:$d/$name"))) {
      // Either both return the same status and target, or both throw
      // the same exception (a scheme-qualified dangling link).
      def outcome[T](f: => T) = scala.util.Try(f).toEither.left.map(_.getClass)
      assert(outcome(view(nio.getFileLinkStatus(p))) == outcome(view(stock.getFileLinkStatus(p))), s"$p")
      assert(outcome(nio.getLinkTarget(p)) == outcome(stock.getLinkTarget(p)), s"$p link target")
    }
    assert(nio.getFileLinkStatus(new Path(s"$d/to_file")).isSymlink)
  }
}
