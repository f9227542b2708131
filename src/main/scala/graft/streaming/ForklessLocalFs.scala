package graft.streaming

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without process spawns. The Spark
  * jars ship no `libhadoop`, so the stock class shells out: `chmod`
  * for every created file and directory ([[setPermission]]) and
  * `readlink` for every link-status probe — two per `FileContext`
  * rename, i.e. per checkpoint WAL, sink-log and state-store file. The
  * two overrides below do the same with `java.nio`; everything else,
  * `.crc` checksums included, is the stock implementation.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO. A sticky bit, which NIO cannot set, and
    * stores without a POSIX attribute view keep the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    if ((bits & ~0x1ff) != 0 || !ForklessRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE, i.e.
      // mode bits 8 … 0
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(
          s"File $p does not exist")
      }
    }
  }

  /** The stock (non-native) link status with `readlink` done by NIO;
    * the probed path is `new File(f.toString)`, as the stock code
    * resolves it.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = ForklessRawLocalFileSystem.readLink(new File(f.toString))
    val fi =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication,
          st.getBlockSize, st.getModificationTime, st.getAccessTime,
          st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
      } catch {
        // a dangling link: File.exists is false for it
        case e: FileNotFoundException =>
          if (target.isEmpty) throw e
          new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault,
            "", "", new Path(target), f)
      }
    if (fi.isSymlink) fi.setSymlink(
      FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

object ForklessRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `FileUtil.readLink` without the `readlink` process: the link's
    * target, or "" when `f` is not a readable symlink.
    */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString.trim
    catch { case _: Exception => "" }
}

/** The checksummed `FileSystem` over [[ForklessRawLocalFileSystem]]
  * (the `fs.file.impl` stand-in for `LocalFileSystem`).
  */
class ForklessLocalFileSystem
  extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `FileContext` view of [[ForklessRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs` over the fork-free class.
  */
class ForklessRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new ForklessRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` (the
  * `fs.AbstractFileSystem.file.impl` stand-in for `LocalFs`).
  */
class ForklessLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForklessRawLocalFs(conf))

object ForklessLocalFs {

  /** The Hadoop keys that route `file:` I/O through these classes. The
    * cache switch matters: the JVM-wide `FileSystem` cache already
    * holds a stock `LocalFileSystem` for `file:`, keyed without the
    * conf, so without it `fs.file.impl` would never be consulted.
    */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForklessLocalFs].getName)
}
