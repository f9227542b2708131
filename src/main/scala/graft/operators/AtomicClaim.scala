package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** Atomically publish commit-file content at a destination iff no
  * commit exists there yet — the claim primitive under
  * [[GenerationLog]], the engine's one versioned commit log.
  *
  * The naive protocol — write a private tmp file, then
  * `FileContext.rename(tmp, dst)` with `Rename.NONE` — is atomic and
  * EXCLUSIVE on HDFS (the NameNode checks dst server-side), but on
  * the local filesystem the "throws if dst exists" contract is
  * implemented as check-then-rename, and POSIX `rename(2)` silently
  * REPLACES an existing destination. Two concurrent claimants of the
  * same version can therefore BOTH see success, the second's content
  * clobbering the first's: the clobbered writer believes it
  * committed and its data is silently lost — a lost update the
  * multi-writer stress test reproduced roughly every other run.
  *
  * On local filesystems the claim therefore goes through
  * `Files.createLink` (hard link): `link(2)` fails with `EEXIST`
  * atomically in the kernel, so exactly one claimant ever succeeds.
  * Non-local stores keep the rename protocol.
  *
  * **Corpse healing** (both paths): a destination that exists but does
  * not parse as commit content is the corpse of a writer that died
  * mid-publish; it must be deleted and the claim retried, or the
  * version number is wedged forever — every writer recomputes it and
  * every claim loses to the corpse. A bare check-then-delete is a
  * TOCTOU hole, though: claimant B classifies dst as a corpse, A
  * heals it and publishes a VALID commit, then B's delete destroys
  * A's commit and B re-claims — the dual-winner lost update again.
  * Healing is therefore serialized through an exclusively-created
  * lock file, and the delete re-verifies UNDER the lock that dst
  * still exists and still fails to parse. That re-check is decisive,
  * not merely narrowing: while any dst file exists — corpse or not —
  * no publish can succeed (link/exclusive-rename both require dst
  * absent), so valid content can only appear at dst via heal+publish,
  * and heals are serialized by the very lock the checker holds. A
  * healer that dies holding the lock is broken by age (60 s), the
  * standard stale-lock recovery every file-lock protocol needs.
  */
object AtomicClaim {

  private val staleLockMs = 60000L

  /** True iff THIS call won the claim on `dst` with `content`.
    * `parseable` classifies existing destination content as a real
    * winner (true → we lost) vs torn debris (false → heal + retry).
    */
  def claim(f: FileSystem, conf: Configuration, dst: Path,
            content: Array[Byte], parseable: () => Boolean): Boolean = {
    val parent = dst.getParent
    if (!f.exists(parent)) f.mkdirs(parent)
    val isLocal = f.isInstanceOf[LocalFileSystem] ||
      f.isInstanceOf[RawLocalFileSystem]
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      if (publish(f, conf, dst, content, isLocal)) return true
      // publish failed: either a real winner, a corpse, or (rename
      // path only) a genuine I/O error — publish() has already
      // re-thrown the latter
      if (parseable()) return false // lost to a real winner
      healCorpse(f, dst, parseable, isLocal)
    }
    // repeated heal/claim contention exhausted the budget; only a
    // real winner (or a still-wedging corpse under a live healer)
    // remains — report lost, the caller's retry loop re-reads the log
    false
  }

  /** One publish attempt of `content` at `dst`: hard-link on local
    * filesystems (kernel-atomic EEXIST), exclusive rename elsewhere.
    * False iff dst already exists; genuine I/O failures surface.
    */
  private def publish(f: FileSystem, conf: Configuration, dst: Path,
                      content: Array[Byte], isLocal: Boolean): Boolean = {
    val tmp = new Path(dst.getParent,
      s".tmp-${dst.getName}-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(content) finally out.close()
    if (isLocal) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          false
      }
    } else {
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
          .rename(tmp, dst) // Rename.NONE: throws if dst exists
        true
      } catch {
        case e: java.io.IOException =>
          f.delete(tmp, false)
          if (!f.exists(dst)) throw e // a real I/O failure, surface it
          false
      }
    }
  }

  /** Delete `dst` iff it is (still) an unparseable corpse, serialized
    * through the heal lock. Lock acquisition failure means another
    * claimant is healing — back off briefly (breaking the lock first
    * if its holder evidently died) and let the outer loop retry.
    *
    * The stale-lock break carries the usual lease caveat: a healer
    * that pauses longer than the 60 s staleness horizon BETWEEN its
    * verify and its delete could delete a valid successor commit.
    * A heal is three sub-second metadata ops, so the horizon has five
    * orders of magnitude of slack — the trade every lease-based lock
    * makes against a dead holder wedging the log forever.
    */
  private def healCorpse(f: FileSystem, dst: Path,
                         parseable: () => Boolean, isLocal: Boolean): Unit = {
    val lock = new Path(dst.getParent, s".heal-${dst.getName}")
    if (tryExclusiveCreate(f, lock, isLocal)) {
      try {
        // decisive re-check (see scaladoc): valid content cannot land
        // at dst between this check and the delete, because dst still
        // existing blocks every publish and competing heals hold this
        // same lock
        if (f.exists(dst) && !parseable()) f.delete(dst, false)
      } finally f.delete(lock, false)
    } else {
      val stale = scala.util.Try(f.getFileStatus(lock)).toOption
        .exists(s =>
          System.currentTimeMillis() - s.getModificationTime > staleLockMs)
      if (stale) f.delete(lock, false) // healer died mid-heal
      Thread.sleep(50)
    }
  }

  /** Atomically create an empty marker file at `path` — true iff THIS
    * call created it. The exclusive-create primitive behind the heal
    * lock (and any other single-winner marker): hard-link on local
    * filesystems, `create(overwrite = false)` on stores that check
    * existence server-side.
    */
  def tryExclusiveCreate(f: FileSystem, path: Path,
                         isLocal: Boolean): Boolean =
    if (isLocal) {
      val tmp = new Path(path.getParent,
        s".tmp-${path.getName}-${java.util.UUID.randomUUID()}")
      f.create(tmp, true).close()
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(path.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally f.delete(tmp, false)
    } else {
      try { f.create(path, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Whether `f` is a local filesystem (where rename is not exclusive
    * and the hard-link protocol applies).
    */
  def isLocalFs(f: FileSystem): Boolean =
    f.isInstanceOf[LocalFileSystem] || f.isInstanceOf[RawLocalFileSystem]
}
