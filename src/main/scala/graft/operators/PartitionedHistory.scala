package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Log-structured history for the PARTITIONED upsert layout — the
  * piece that gives the reference's streaming gold table (Delta
  * `MERGE` sink, /root/reference/src/03_gold_realtime_rides.py:104-112)
  * time travel, a change feed, restore, and table-granularity crash
  * atomicity WITHOUT giving up the layout's contract that
  * `spark.read.parquet(path)` over the live directories just works.
  *
  * The versioned (unpartitioned) layout gets history for free from its
  * immutable snapshot directories; the partitioned layout rewrites
  * partition directories IN PLACE, so its history has to be built from
  * what an in-place rewrite can do cheaply: metadata-only renames.
  *
  * Protocol (every partitioned commit `v`, always under the sink's
  * writer lock):
  *
  *  1. write `_commits/actions-<v>.intent` — the WRITE-AHEAD record of
  *     the partition directories this commit will rewrite AND the
  *     per-file relative paths of every committed original those
  *     directories currently hold (tmp + rename, so a parseable intent
  *     means it was fully written BEFORE any move; an unparseable one
  *     means no move has happened yet);
  *  2. RENAME exactly the intent's listed files into
  *     `_history/v<v>/<partition-dir>/<file>` — metadata-only, never a
  *     byte copied, so history costs O(touched files) namenode ops,
  *     not O(touched bytes);
  *  3. run the normal dynamic partition overwrite (it finds the
  *     touched directories empty and just writes the new files);
  *  4. write `_commits/actions-<v>.json` — the commit's file-level
  *     delta: `adds` (relative paths now live) and `removes` (relative
  *     paths now under `_history/v<v>/`), the same add/remove algebra
  *     a Delta log entry records;
  *  5. claim the commit file; delete the intent.
  *
  * Crash anywhere in 1–5 is ROLLED BACK, not forward. The intent's
  * per-file list is what makes that correct at EVERY crash point, not
  * just after the moves finish: a listed file is a committed original
  * wherever it currently sits (still live if the crash preceded its
  * move, frozen under `_history/v<v>/` if not), while an UNLISTED live
  * file in a touched directory can only be torn overwrite output
  * (overwrite tasks write fresh uniquely-named files). Recovery
  * therefore deletes only unlisted files, renames the frozen listed
  * ones back, and leaves listed still-live ones alone — restoring the
  * last committed state exactly whether the writer died before, during
  * or after the history move. A multi-partition batch is therefore
  * all-or-nothing at table granularity, where a bare dynamic overwrite
  * is atomic only per partition.
  *
  * Time travel reads replay the deltas BACKWARD from the current live
  * listing: liveAt(v) = live(head) − Σ adds(w) + Σ removes(w) for
  * w in (v, head], each removed path resolving to its frozen home
  * `_history/v<w>/<relpath>`. Backward replay is what lets GC drop old
  * actions files entirely — reconstructing version v only ever needs
  * the actions of commits AFTER v.
  */
private[graft] object PartitionedHistory {

  val historyDirName = "_history"

  /** One commit's file-level delta, as relative paths
    * (`<partition-dir>/<file>.parquet`). `removes` live under
    * `_history/v<version>/` once the commit lands.
    */
  final case class Actions(adds: Seq[String], removes: Seq[String])

  /** The write-ahead record of one in-flight commit: the partition
    * directories it will rewrite and the relative paths of every
    * committed original those directories held when the intent was
    * written — exactly the set step 2 will move. The file list is the
    * crash-recovery ground truth: anything live-and-unlisted in a
    * touched directory is torn overwrite output.
    */
  final case class Intent(touched: Seq[String], files: Seq[String])

  def intentPath(commitsDir: Path, v: Long): Path =
    new Path(commitsDir, s"actions-$v.intent")

  def actionsPath(commitsDir: Path, v: Long): Path =
    new Path(commitsDir, s"actions-$v.json")

  def historyDir(root: Path, v: Long): Path =
    new Path(new Path(root, historyDirName), s"v$v")

  /** Staging area for restore commit `v`'s distributed copy-back:
    * executor tasks copy frozen files HERE (under `_commits`, so
    * invisible to every reader — liveRelpaths only walks `<pc>=`
    * directories and the commit parser skips non-numeric names), and
    * only the driver publishes them into the live tree by
    * metadata-only renames once the copy job has fully succeeded.
    * That ordering is what keeps a failed/straggling copy task
    * harmless: it can never land bytes in a live directory after a
    * recovery's rollback has scanned it. Each ATTEMPT gets its own
    * uniquely-named dir ([[newStageDir]]): a RETRY of a failed restore
    * must never share a stage path with a zombie copy task of the
    * previous attempt (cooperative task kill is best-effort — a
    * straggler finishing its overwrite into a REUSED path after the
    * retry's job succeeded would hand the publish loop a torn file).
    * Recovery sweeps every dir carrying the version's prefix.
    */
  def stagePrefix(v: Long): String = s"restore-stage-v$v-"

  def newStageDir(commitsDir: Path, v: Long): Path =
    new Path(commitsDir,
      stagePrefix(v) + java.util.UUID.randomUUID().toString.take(8))

  /** Delete every staging dir of commit `v`, whatever attempt wrote
    * it — staged bytes are reader-invisible by construction, so the
    * sweep is safe at any point the commit itself is dead.
    */
  def sweepStageDirs(fs: FileSystem, commitsDir: Path, v: Long): Unit =
    if (fs.exists(commitsDir))
      fs.listStatus(commitsDir).foreach { s =>
        if (s.isDirectory && s.getPath.getName.startsWith(stagePrefix(v)))
          fs.delete(s.getPath, true)
      }

  // -----------------------------------------------------------------
  // Persistence
  // -----------------------------------------------------------------

  private def writeAtomic(fs: FileSystem, p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    // Intents/actions are only ever WRITTEN under the sink's writer
    // lock, but lock-free READERS (consistentLive / liveAt / the read
    // path) may race a replacement of an existing destination (e.g. a
    // torn predecessor's actions record): a delete-then-rename window
    // would make a reconstructible version transiently throw
    // not-reconstructible, or briefly expose torn files as live. So
    // replace ATOMICALLY where the store can (FileContext rename with
    // OVERWRITE — readers see old-or-new, never absent); stores
    // without FileContext fall back to delete+rename and accept the
    // window their semantics force.
    val replaced =
      try {
        val fc = org.apache.hadoop.fs.FileContext
          .getFileContext(fs.getUri, fs.getConf)
        fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        // no FileContext implementation for this store — the expected,
        // silent fallback case
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          false
        // anything else (a transient IO failure) still falls back for
        // robustness, but LOUDLY: the fallback re-opens the torn
        // window the atomic path exists to close, and an operator
        // should know the store is degrading
        case e: Exception =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"atomic replace of $p failed (${e.getMessage}); falling " +
              "back to delete+rename — lock-free readers may observe " +
              "the record absent for an instant")
          false
      }
    if (!replaced) {
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"could not publish $p")
      }
    }
  }

  private def readString(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.toOption

  /** Write the write-ahead intent for commit `v`. MUST complete before
    * any file moves.
    */
  def writeIntent(fs: FileSystem, commitsDir: Path, v: Long,
                  intent: Intent): Unit =
    writeAtomic(fs, intentPath(commitsDir, v),
      JsonMethods.compact(JsonMethods.render(JObject(
        "version" -> JInt(v),
        "touched" -> JArray(intent.touched.map(JString(_)).toList),
        "files" -> JArray(intent.files.map(JString(_)).toList)))))

  /** The intent of commit `v`; None when absent OR unparseable — and
    * unparseable means the intent never finished writing, which
    * (tmp + rename) cannot happen, so in practice None = absent.
    */
  def readIntent(fs: FileSystem, commitsDir: Path,
                 v: Long): Option[Intent] =
    readString(fs, intentPath(commitsDir, v)).flatMap { s =>
      scala.util.Try {
        def arr(k: String): Seq[String] = JsonMethods.parse(s) \ k match {
          case JArray(xs) => xs.collect { case JString(d) => d }
          case _ => Seq.empty[String]
        }
        Intent(arr("touched"), arr("files"))
      }.toOption
    }

  def writeActions(fs: FileSystem, commitsDir: Path, v: Long,
                   a: Actions): Unit =
    writeAtomic(fs, actionsPath(commitsDir, v),
      JsonMethods.compact(JsonMethods.render(JObject(
        "version" -> JInt(v),
        "adds" -> JArray(a.adds.map(JString(_)).toList),
        "removes" -> JArray(a.removes.map(JString(_)).toList)))))

  def readActions(fs: FileSystem, commitsDir: Path,
                  v: Long): Option[Actions] =
    readString(fs, actionsPath(commitsDir, v)).flatMap { s =>
      scala.util.Try {
        def arr(k: String): Seq[String] = JsonMethods.parse(s) \ k match {
          case JArray(xs) => xs.collect { case JString(d) => d }
          case _ => Seq.empty[String]
        }
        Actions(arr("adds"), arr("removes"))
      }.toOption
    }

  // -----------------------------------------------------------------
  // File moves and listings
  // -----------------------------------------------------------------

  /** Parquet files currently in `dirs` (names relative to `root`,
    * e.g. `dt=2024-01-01/part-...parquet`). Missing dirs contribute
    * nothing.
    */
  def listDirFiles(fs: FileSystem, root: Path,
                   dirs: Seq[String]): Seq[String] =
    dirs.flatMap { d =>
      parquetFiles(fs, new Path(root, d)).map(s => s"$d/${s.getPath.getName}")
    }

  /** All live partition-directory parquet files under `root`
    * (relative paths), for directories named `<pc>=...`.
    */
  def liveRelpaths(fs: FileSystem, root: Path, pc: String): Seq[String] =
    listDirFiles(fs, root, partitionDirs(fs, root, pc))

  /** The parquet files directly in `dir`; none when `dir` is missing. */
  def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Names of the `<pc>=...` partition directories under `root`; none
    * when `root` is missing.
    */
  def partitionDirs(fs: FileSystem, root: Path, pc: String): Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$pc="))
      .map(_.getPath.getName)

  /** Step 2 of the protocol: rename exactly the intent's listed files
    * into `_history/v<v>/`, preserving the directory structure. The
    * caller passes the SAME list it recorded in the intent — listing
    * once and moving that list is what keeps the write-ahead record
    * and the moves consistent.
    */
  def moveToHistory(fs: FileSystem, root: Path, v: Long,
                    files: Seq[String]): Unit = {
    val hv = historyDir(root, v)
    files.map(_.takeWhile(_ != '/')).distinct.foreach { d =>
      fs.mkdirs(new Path(hv, d))
    }
    files.foreach { rel =>
      val from = new Path(root, rel)
      val to = new Path(hv, rel)
      if (!fs.rename(from, to))
        throw new java.io.IOException(
          s"history move failed: $from -> $to")
    }
  }

  /** Versions with a pending intent but no commit file — commits that
    * died between steps 1 and 5. At most one can exist under the
    * writer lock, but recovery handles any number (newest first, so a
    * pathological stack unwinds in order).
    */
  def pendingVersions(fs: FileSystem, commitsDir: Path,
                      committed: Set[Long]): Seq[Long] = {
    if (!fs.exists(commitsDir)) return Seq.empty
    val intent = "^actions-(\\d+)\\.intent$".r
    fs.listStatus(commitsDir).toSeq.flatMap { s =>
      s.getPath.getName match {
        case intent(v) if !committed.contains(v.toLong) => Some(v.toLong)
        case _ => None
      }
    }.sorted.reverse
  }

  /** Roll back one incomplete commit `v`, correct at every crash point
    * of the intent→move→write window:
    *
    *  - live-and-UNLISTED files in the intent's directories are torn
    *    overwrite output (overwrite tasks write fresh unique names) —
    *    deleted;
    *  - listed files frozen under `_history/v<v>/` are committed
    *    originals the move got to — renamed back;
    *  - listed files still live are committed originals the move never
    *    reached (the writer died before/during step 2) — left exactly
    *    where they are.
    *
    * Directories that end up without data files (they were CREATED by
    * the torn commit) are dropped, as are the commit's
    * intent/actions/history leftovers. Returns the partition
    * directories whose contents changed, so the caller can refresh
    * their stats manifests.
    */
  def rollback(fs: FileSystem, root: Path, commitsDir: Path,
               v: Long): Seq[String] = {
    val intent = readIntent(fs, commitsDir, v).getOrElse(Intent(Nil, Nil))
    val listed = intent.files.toSet
    val hv = historyDir(root, v)
    val frozen = listDirFiles(fs, hv, intent.touched).toSet
    intent.touched.foreach { d =>
      val live = new Path(root, d)
      if (fs.exists(live))
        fs.listStatus(live).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .foreach { s =>
            val rel = s"$d/${s.getPath.getName}"
            // unlisted → torn overwrite output; listed-but-also-frozen
            // → a (vanishingly unlikely) name collision where the
            // frozen copy is the original — either way the live file
            // is not a committed original
            if (!listed.contains(rel) || frozen.contains(rel))
              fs.delete(s.getPath, false)
          }
      val fdir = new Path(hv, d)
      if (fs.exists(fdir)) {
        if (!fs.exists(live)) fs.mkdirs(live)
        fs.listStatus(fdir).toSeq.filter(_.isFile).foreach { s =>
          if (!fs.rename(s.getPath, new Path(live, s.getPath.getName)))
            throw new java.io.IOException(
              s"history rollback failed: ${s.getPath} -> $live")
        }
      }
      // a directory the torn commit created (nothing restored into it
      // and no data files left) should not linger
      if (fs.exists(live) && !fs.listStatus(live).exists(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet")))
        fs.delete(live, true)
    }
    fs.delete(hv, true)
    // a torn restore's staged copies (and anything a straggler copy
    // task wrote there after the driver died) are reclaimed with the
    // commit — they were never visible to readers
    sweepStageDirs(fs, commitsDir, v)
    fs.delete(actionsPath(commitsDir, v), false)
    fs.delete(intentPath(commitsDir, v), false)
    intent.touched
  }

  /** The CONSISTENT live file map at the current committed version:
    * relpath → path relative to `root`, routing around any pending
    * (uncommitted) intent without mutating anything — a reader's view
    * of the last committed state even mid-crash. The same per-file
    * reasoning as [[rollback]], applied read-only: a listed relpath
    * resolves to its frozen home if the move got to it, else to its
    * still-live original; unlisted live files in touched directories
    * (torn overwrite output) are excluded. With no pending intent this
    * is exactly the live listing.
    */
  def consistentLive(fs: FileSystem, root: Path, commitsDir: Path,
                     pc: String, committed: Set[Long])
      : Map[String, String] = {
    val live = liveRelpaths(fs, root, pc).map(r => r -> r).toMap
    pendingVersions(fs, commitsDir, committed).foldLeft(live) { (acc, v) =>
      val intent = readIntent(fs, commitsDir, v).getOrElse(Intent(Nil, Nil))
      val touched = intent.touched.toSet
      val listed = intent.files.toSet
      val hv = historyDir(root, v)
      val frozen = listDirFiles(fs, hv, intent.touched).toSet
      val cleaned = acc.filterNot { case (rel, _) =>
        touched.contains(rel.takeWhile(_ != '/')) &&
          (!listed.contains(rel) || frozen.contains(rel))
      }
      cleaned ++ frozen.map(rel =>
        rel -> s"$historyDirName/v$v/$rel").toMap
    }
  }

  /** Backward replay: the file map of committed `version`, given the
    * consistent current map and the committed version list (ascending).
    * Fails loudly when a needed actions file is missing (a commit made
    * without history, or GC'd past the retention horizon).
    */
  def liveAt(fs: FileSystem, root: Path, commitsDir: Path,
             version: Long, committedDesc: Seq[Long],
             current: Map[String, String]): Map[String, String] = {
    committedDesc.filter(_ > version).foldLeft(current) { (acc, w) =>
      val a = readActions(fs, commitsDir, w).getOrElse(
        throw new IllegalArgumentException(
          s"version $version is not reconstructible: commit $w has no " +
            "actions record (a commit written without history, for " +
            "example by an older writer, or GC'd past retainVersions)"))
      (acc -- a.adds) ++ a.removes.map(rel =>
        rel -> s"$historyDirName/v$w/$rel")
    }
  }

  /** GC for dropped commit versions: their actions records and frozen
    * file sets can never be needed again (backward replay from any
    * retained version only walks NEWER commits).
    */
  def gcVersion(fs: FileSystem, root: Path, commitsDir: Path,
                v: Long): Unit = {
    fs.delete(historyDir(root, v), true)
    sweepStageDirs(fs, commitsDir, v)
    fs.delete(actionsPath(commitsDir, v), false)
    fs.delete(intentPath(commitsDir, v), false)
    // drop the _history container once empty, so a table that never
    // deletes anything doesn't keep an empty marker dir around
    val hroot = new Path(root, historyDirName)
    if (fs.exists(hroot) && fs.listStatus(hroot).isEmpty)
      fs.delete(hroot, false)
  }
}
