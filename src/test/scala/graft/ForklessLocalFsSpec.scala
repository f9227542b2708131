package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ForklessLocalFileSystem, ForklessLocalFs}

/** The fork-free local filesystem against Hadoop's own `LocalFileSystem`
  * / `LocalFs` on the same files: permissions, link status, the
  * no-overwrite rename and `.crc` side files must all read the same.
  */
class ForklessLocalFsSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private val root = URI.create("file:///")

  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(root, conf); fs
  }
  private def forklessFs: FileSystem = {
    val fs = new ForklessLocalFileSystem(); fs.initialize(root, conf); fs
  }
  private def stockFc: FileContext = FileContext.getLocalFSFileContext(conf)
  private def forklessFc: FileContext =
    FileContext.getFileContext(new ForklessLocalFs(root, conf), conf)

  private def tmp(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  test("create, mkdirs and setPermission leave the stock permissions") {
    val dir = tmp("fkperm")
    for ((name, fs) <- Seq("stock" -> stockFs, "forkless" -> forklessFs)) {
      val file = new Path(s"$dir/$name.bin")
      fs.create(file).close()
      val sub = new Path(s"$dir/$name.d/a/b")
      assert(fs.mkdirs(sub))
      assert(mode(new File(file.toString)) === "rw-r--r--", name)
      assert(fs.getFileStatus(file).getPermission === perm("644"), name)
      assert(mode(new File(sub.toString)) === "rwxr-xr-x", name)
      assert(mode(new File(s"$dir/$name.d")) === "rwxr-xr-x", name)
      for ((octal, want) <- Seq("644" -> "rw-r--r--", "755" -> "rwxr-xr-x",
          "600" -> "rw-------")) {
        fs.setPermission(file, perm(octal))
        assert(mode(new File(file.toString)) === want, s"$name $octal")
        assert(fs.getFileStatus(file).getPermission === perm(octal),
          s"$name $octal")
      }
      val missing = new Path(s"$dir/$name.missing")
      intercept[java.io.IOException](fs.setPermission(missing, perm("644")))
    }
  }

  /** The fields a link-status caller reads, or the exception class. */
  private def shape(st: => FileStatus) = scala.util.Try(st).map(st =>
      (st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) Some(st.getSymlink) else None,
        st.getLen, st.getPath))
    .toEither.left.map(_.getClass)

  test("getFileLinkStatus matches the stock class on files, dirs, " +
      "symlinks, dangling symlinks and missing paths") {
    val dir = tmp("fklink")
    val file = new File(dir, "f.txt")
    Files.write(file.toPath, "hello".getBytes)
    val sub = new File(dir, "sub"); assert(sub.mkdir())
    val link = new File(dir, "link")
    Files.createSymbolicLink(link.toPath, file.toPath)
    val dangling = new File(dir, "dangling")
    Files.createSymbolicLink(dangling.toPath, new File(dir, "gone").toPath)
    val relLink = new File(dir, "rel")
    Files.createSymbolicLink(relLink.toPath, new File("f.txt").toPath)
    val present = Seq(file, sub, link, dangling, relLink)
    // the unqualified form (what FileContext hands the raw class) and
    // the qualified `file:` form, whose links the stock probe misses
    // (`new File("file:/…")` names no file), so a dangling one is missing
    val paths = present.flatMap(f =>
      Seq(new Path(f.getPath), new Path(f.toURI.toString)))
    val stock = stockFs; val forkless = forklessFs
    for (p <- paths)
      assert(shape(forkless.getFileLinkStatus(p)) ===
        shape(stock.getFileLinkStatus(p)), p)
    for (p <- present.map(f => new Path(f.getPath)))
      assert(shape(forklessFc.getFileLinkStatus(p)) ===
        shape(stockFc.getFileLinkStatus(p)), s"FileContext $p")
    // the links are seen as links, not followed
    assert(forkless.getFileLinkStatus(new Path(link.getPath)).isSymlink)
    assert(forklessFc.getFileLinkStatus(new Path(dangling.getPath)).isSymlink)
    val missing = new Path(new File(dir, "nope").getPath)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkless.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forklessFc.getFileLinkStatus(missing))
  }

  test("FileContext rename without OVERWRITE still refuses an existing " +
      "destination; .crc side files are written, renamed and removed") {
    val dir = tmp("fkrename")
    val fc = forklessFc
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(s.getBytes) finally out.close()
    }
    def crc(p: Path) = new File(s"${p.getParent}/.${p.getName}.crc")
    val src = new Path(s"$dir/tmp-1"); val dst = new Path(s"$dir/1")
    write(src, "first"); write(dst, "second")
    assert(crc(src).exists && crc(dst).exists)
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(new String(Files.readAllBytes(new File(dst.toString).toPath)) ===
      "second")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(new String(Files.readAllBytes(new File(dst.toString).toPath)) ===
      "first")
    assert(!crc(src).exists && crc(dst).exists)
    assert(fc.delete(dst, false))
    assert(!crc(dst).exists)
    // the FileSystem half keeps its checksums too
    val fs = forklessFs
    val f = new Path(s"$dir/fs.bin")
    val out = fs.create(f)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    assert(crc(f).exists)
    assert(fs.delete(f, false))
    assert(!crc(f).exists)
  }

  test("the three keys install the classes, and their I/O spawns no " +
      "process") {
    val keyed = new Configuration(conf)
    ForklessLocalFs.hadoopConf.foreach { case (k, v) => keyed.set(k, v) }
    val fs = new Path("file:///").getFileSystem(keyed)
    assert(fs.isInstanceOf[ForklessLocalFileSystem])
    val afs = FileContext.getFileContext(root, keyed).getDefaultFileSystem
    assert(afs.isInstanceOf[ForklessLocalFs], afs.getClass)
    val dir = tmp("fkspawn")
    val spawned = ForklessLocalFsSpec.spawns {
      val fc = FileContext.getFileContext(root, keyed)
      for (i <- 0 until 5) {
        val p = new Path(s"$dir/d$i/tmp")
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        out.close()
        fc.rename(p, new Path(s"$dir/d$i/$i"))
        fs.create(new Path(s"$dir/fs$i")).close()
      }
    }
    assert(ForklessLocalFsSpec.fsToolSpawns(spawned, Seq(dir.getPath)) === Nil)
  }
}

object ForklessLocalFsSpec {
  /** The command lines of every process started while `body` ran
    * (a `jdk.ProcessStart` flight recording).
    */
  def spawns(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("spawns", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  /** `spawns` narrowed to the filesystem tools Hadoop's shell fallback
    * runs, naming a path under one of `dirs`.
    */
  def fsToolSpawns(commands: Seq[String], dirs: Seq[String]): Seq[String] = {
    val tools = Set("chmod", "readlink", "ls", "stat")
    commands.filter { c =>
      tools(new File(c.takeWhile(_ != ' ')).getName) &&
        dirs.exists(c.contains)
    }
  }
}
