package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.util.{LocalChecksumFileSystem, LocalFileContextFs, LocalFs}

/** The engine's fork-free `file:` filesystem: the session resolves it
  * through both Hadoop APIs, every overridden call leaves the same
  * files, modes and statuses as stock `RawLocalFileSystem`, and a
  * stateful stream drain plus a parquet write start no OS process.
  */
class LocalFsSpec extends SparkTestBase {

  private val fileUri = new URI("file:///")

  private def freshDir(prefix: String): JPath =
    graft.util.TempDirs.track(Files.createTempDirectory(prefix))

  /** Every entry under `root`: relative path, kind, mode bits and, for
    * files, content — read with java.nio, independent of Hadoop. */
  private def tree(root: JPath): Seq[String] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      val rel = root.relativize(p).toString
      if (Files.isSymbolicLink(p)) s"$rel -> ${Files.readSymbolicLink(p)}"
      else {
        val mode = java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
        if (Files.isDirectory(p)) s"$rel/ $mode"
        else s"$rel $mode ${new String(Files.readAllBytes(p), "UTF-8")}"
      }
    }.toSeq.sorted

  /** Run `op` against stock `RawLocalFileSystem` and against
    * [[LocalFs]], each in its own fresh root: (outcome, resulting tree)
    * per side, the outcome being the result or the exception class,
    * with the root path masked. */
  private def both(setup: JPath => Unit)(op: (RawLocalFileSystem, String) => Any)
      : Seq[(String, Seq[String])] =
    Seq(new RawLocalFileSystem, new LocalFs).map { fs =>
      fs.initialize(fileUri, new Configuration())
      val root = freshDir("graft_localfs_")
      setup(root)
      val out =
        try String.valueOf(op(fs, root.toString))
        catch { case e: java.io.IOException => s"threw ${e.getClass.getName}" }
      (out.replace(root.toString, "<root>"), tree(root))
    }

  private def assertSame(r: Seq[(String, Seq[String])]): Unit =
    assert(r(1) === r(0))

  private def write(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  test("the session resolves file: to the graft classes through FileSystem and FileContext") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration,
        spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(fileUri, conf)
      assert(fs.getClass === classOf[LocalChecksumFileSystem])
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[LocalFs])
      val fc = FileContext.getFileContext(fileUri, conf)
      assert(fc.getDefaultFileSystem.getClass === classOf[LocalFileContextFs])
    }
  }

  test("create and mkdirs leave the same files and modes as stock") {
    assertSame(both(_ => ()) { (fs, root) =>
      write(fs, new Path(s"$root/a/b/plain.txt"), "plain")
      val out = fs.create(new Path(s"$root/a/perm.txt"),
        new FsPermission("640"), false, 4096, 1.toShort, 1L << 25, null)
      try out.write("perm".getBytes("UTF-8")) finally out.close()
      Seq(fs.mkdirs(new Path(s"$root/c/d")),
        fs.mkdirs(new Path(s"$root/e/f"), new FsPermission("750")),
        fs.mkdirs(new Path(s"$root/c/d"))) // exists: still true
    })
  }

  test("setPermission 0644, 0755 and 0700 match stock on files and dirs") {
    for (mode <- Seq("644", "755", "700")) {
      assertSame(both { root =>
        Files.createDirectories(root.resolve("dir"))
        Files.write(root.resolve("dir/f.txt"), "x".getBytes("UTF-8"))
      } { (fs, root) =>
        fs.setPermission(new Path(s"$root/dir/f.txt"), new FsPermission(mode))
        fs.setPermission(new Path(s"$root/dir"), new FsPermission(mode))
      })
    }
    // a missing path fails on both
    val outcomes = both(_ => ()) { (fs, root) =>
      fs.setPermission(new Path(s"$root/missing"), new FsPermission("644"))
    }.map(_._1)
    assert(outcomes.forall(_.startsWith("threw ")), outcomes)
  }

  test("FileContext rename with overwrite matches stock, checksums included") {
    val conf = new Configuration()
    val stock = FileContext.getFileContext(
      AbstractFileSystem.get(fileUri, conf), conf)
    val graftFc = FileContext.getFileContext(new LocalFileContextFs(fileUri, conf), conf)
    assert(stock.getDefaultFileSystem.getClass.getName ===
      "org.apache.hadoop.fs.local.LocalFs")
    def renames(fc: FileContext): (Seq[String], Seq[String]) = {
      val root = freshDir("graft_localfs_fc_")
      def put(name: String, body: String): Path = {
        val p = new Path(s"$root/$name")
        val out = fc.create(p, java.util.EnumSet.of(
          org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
        try out.write(body.getBytes("UTF-8")) finally out.close()
        p
      }
      // the checkpoint-log shape: temp file renamed over the target,
      // once onto a fresh name and once over an existing file
      fc.rename(put(".tmp1", "one"), new Path(s"$root/0"), Options.Rename.OVERWRITE)
      put("1", "old")
      fc.rename(put(".tmp2", "new"), new Path(s"$root/1"), Options.Rename.OVERWRITE)
      val noOverwrite =
        try { fc.rename(put(".tmp3", "x"), new Path(s"$root/1")); "renamed" }
        catch { case e: java.io.IOException => e.getClass.getName }
      (tree(root), Seq(noOverwrite))
    }
    assert(renames(graftFc) === renames(stock))
  }

  test("getFileLinkStatus matches stock on a file, a dir, symlinks and a missing path") {
    def show(st: FileStatus): Seq[Any] =
      Seq(st.isFile, st.isDirectory, st.isSymlink, st.getLen, st.getPath,
        if (st.isSymlink) st.getSymlink else "", st.getPermission)
    val setup = (root: JPath) => {
      Files.createDirectories(root.resolve("dir"))
      Files.write(root.resolve("f.txt"), "abc".getBytes("UTF-8"))
      Files.createSymbolicLink(root.resolve("link"), java.nio.file.Paths.get("f.txt"))
      Files.createSymbolicLink(root.resolve("dangling"), java.nio.file.Paths.get("gone"))
      ()
    }
    for (name <- Seq("f.txt", "dir", "link", "dangling", "missing");
         qualified <- Seq(false, true)) {
      val r = both(setup) { (fs, root) =>
        val p = if (qualified) s"file:$root/$name" else s"$root/$name"
        show(fs.getFileLinkStatus(new Path(p))).mkString("|")
      }
      withClue(s"$name (qualified=$qualified): ") { assertSame(r) }
      if (name == "missing")
        assert(r(1)._1 === s"threw ${classOf[java.io.FileNotFoundException].getName}")
    }
  }

  test("a stateful AvailableNow drain plus a parquet write start no OS process") {
    val in = freshDir("graft_localfs_in_")
    spark.range(0, 200).select((col("id") % 7).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(in.resolve("part0").toString)
    val inSchema = spark.read.parquet(in.resolve("part0").toString).schema
    def drainAndWrite(): Unit = {
      val q = spark.readStream.schema(inSchema)
        .parquet(in.resolve("part0").toString)
        .groupBy("k").count()
        .writeStream.outputMode("complete").format("noop")
        .option("checkpointLocation", freshDir("graft_localfs_ckpt_").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.lastProgress.stateOperators.head.numRowsTotal === 7)
      spark.range(0, 100).write.mode("overwrite")
        .parquet(freshDir("graft_localfs_out_").toString)
    }
    // one unrecorded pass first: one-off start-up probes (Hadoop's
    // `Shell` class runs `setsid` once when it loads) are not per-write
    drainAndWrite()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("graft_localfs_", ".jfr")
    try {
      rec.start()
      drainAndWrite()
      rec.stop()
      rec.dump(dump)
      // Two Spark starts are timed by the clock or by GC, not by the
      // writes under test: the first executor heartbeat's page-size
      // probe (`getconf PAGESIZE`, once per JVM) and the `rm -rf` that
      // ArtifactManager's Cleaner task runs on a collected cloned
      // session's artifact dir. They are matched by the frame that owns
      // them, so any other `rm` (e.g. a write path reaching Spark's
      // delete helper) still counts.
      val offPath = Set(
        "org.apache.spark.executor.ProcfsMetricsGetter.computePageSize",
        "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner.run")
      def offWritePath(e: jdk.jfr.consumer.RecordedEvent): Boolean =
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(f =>
          offPath(s"${f.getMethod.getType.getName}.${f.getMethod.getName}")))
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
          !offWritePath(e))
      assert(starts.isEmpty, s"${starts.size} starts, by program: " +
        starts.groupBy(_.getString("command").takeWhile(_ != ' '))
          .map { case (c, n) => s"${n.size}× $c" }.mkString(", "))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }
}
