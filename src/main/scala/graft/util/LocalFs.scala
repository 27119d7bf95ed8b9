package graft.util

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's `RawLocalFileSystem` with
  * its two process-starting calls done in-process.
  *
  * Without the native `libhadoop` (Spark's distribution ships none),
  * `RawLocalFileSystem` runs `chmod` in a child process for every
  * `setPermission` — and `create`/`mkdirs` with a permission call it for
  * every file and dir they make — and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends.
  * Every streaming micro-batch writes its offset WAL and commit log
  * (create temp + rename) and every state-store version through
  * FileContext, and every parquet write creates files through
  * FileSystem, so each paid several fork+exec round trips: a JFR
  * recording of one perfbench ingest run counted 3399 process starts
  * (2184 `readlink`, 1213 `chmod`), 2 with this class (4 vCPUs).
  *
  * Both overrides keep the stock semantics and fall back to `super`
  * where java.nio cannot match it: permission bits above 0777 (sticky,
  * setuid/setgid) and symlinks (whose status `super` builds from the
  * link target). [[LocalFs.conf]] registers the class for both Hadoop
  * APIs; `GraftSession.builder` applies it to every session.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's declaration order is OWNER_READ … OTHERS_EXECUTE,
      // i.e. the nine mode bits from 0400 down to 0001
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case e: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[LocalFs]] behind Hadoop's FileSystem API, with the `.crc` checksum
  * files of the stock `LocalFileSystem` (parquet writes, file listing). */
class LocalChecksumFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new LocalFs)

/** [[LocalFs]] behind Hadoop's FileContext API (streaming checkpoint
  * logs, state-store files), with the `.crc` files of the stock
  * `org.apache.hadoop.fs.local.LocalFs`. The stock raw delegate
  * (`RawLocalFs`) has package-private constructors that hard-wire
  * `RawLocalFileSystem`, so [[LocalFs.RawDelegate]] repeats its four
  * overrides. `AbstractFileSystem.get` needs the (URI, Configuration)
  * constructor. */
class LocalFileContextFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawDelegate(uri, conf))

object LocalFs {

  private[util] class RawDelegate(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Session settings that resolve `file:` to these classes through
    * `FileSystem.get` and through `FileContext`. */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalChecksumFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[LocalFileContextFs].getName)
}
