package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned commit log — the one storage protocol under every
  * versioned store in the engine: the upsert sink
  * ([[ParquetUpsertSink]]), the IVF index, the PQ and SQ8 codes stores
  * and the admission store. Each store carries only its own commit
  * SHAPE `M`, not a re-implementation of the commit discipline:
  *
  *  - `_commits/<version>`: the commit naming this generation's
  *    uniquely-named, IMMUTABLE data directories. Claimed through
  *    [[AtomicClaim]] (exclusive publish): exactly one concurrent
  *    mutator wins each version, a reader never observes a torn
  *    commit, and unparseable debris of a dead writer is healed
  *    rather than wedging the version.
  *  - mutations write fresh directories BESIDE the live ones and flip
  *    the commit last — lock-free for concurrent readers; a reader
  *    that resolved version N keeps reading N's immutable directories
  *    while N+1 commits.
  *  - [[gcAfter]] drops generations beyond `retainVersions` at commit
  *    time, reference-counted: a directory a retained commit still
  *    names survives; [[vacuum]] reclaims ORPHANS (a mutator that died
  *    between writing its directories and claiming a version) behind
  *    an age horizon, never touching anything a present commit
  *    references.
  *
  * `parseM` receives the commit's version as well as its content, so
  * a format that leaves the data directory implicit can derive it.
  * `filesOf` receives the SparkSession because a commit may be
  * TWO-LEVEL (the admission stores' manifest-list shape: a small root
  * naming per-group manifest files, which in turn name the data
  * files): resolving the full referenced-file set then needs fs reads.
  * Single-level stores ignore the session (`(_, m) => m.dirs`).
  * `onDrop` runs for every version retention drops, before its commit
  * file goes, for state a store keeps beside the log under the same
  * version number.
  */
private[graft] final class GenerationLog[M](
    path: String,
    parseM: (Long, String) => Option[M],
    serializeM: M => String,
    filesOf: (SparkSession, M) => Seq[String],
    retainVersions: Int,
    onDrop: (SparkSession, Long) => Unit = (_: SparkSession, _: Long) => ()) {

  require(retainVersions >= 2,
    s"retainVersions must be >= 2 (got $retainVersions): the previous " +
      "generation must survive for in-flight readers")

  /** The log's filesystem under the session's Hadoop conf, so
    * filesystem keys set on the session reach commit and claim I/O.
    */
  def hfs(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
  def sub(d: String) = new org.apache.hadoop.fs.Path(s"$path/$d")
  def subPath(d: String): String = s"$path/$d"
  private def commitsDir = sub("_commits")
  def uid: String = java.util.UUID.randomUUID().toString.take(8)

  /** Parsed-commit cache: a commit file is IMMUTABLE once parseable
    * (writers claim fresh version numbers; the only overwrite is
    * healing a TORN file, which by definition never parsed and so was
    * never cached), so each version is parsed at most once per log
    * handle. Without this, every resolve/commit re-parses the whole
    * retained history — O(retained · manifest size) per call, which
    * for the admission stores grows with the store's file count and
    * was the measured scale term in the manifest-mode maintenance
    * turn. Entries for GC'd versions are evicted on the next listing.
    *
    * Keyed by (version, mtime, length), NOT version alone: a store
    * deleted and re-created at the same path (another driver, a test
    * re-run, a scratch sweep) re-issues the SAME version numbers, and
    * a version-keyed cache would serve the dead store's manifest until
    * JVM restart. The commit file's identity triple makes stale
    * entries unreachable, and a vanished `_commits` clears the cache
    * outright — correctness never depends on handle eviction.
    */
  private val parsedCache =
    scala.collection.concurrent.TrieMap.empty[(Long, Long, Long), M]

  private def cacheKey(v: Long, s: org.apache.hadoop.fs.FileStatus) =
    (v, s.getModificationTime, s.getLen)

  private def readParsed(f: org.apache.hadoop.fs.FileSystem,
      v: Long, s: org.apache.hadoop.fs.FileStatus): Option[M] =
    parsedCache.get(cacheKey(v, s)).orElse {
      scala.util.Try {
        val in = f.open(s.getPath)
        val content = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
        parseM(v, content).get
      }.toOption.map { m => parsedCache.put(cacheKey(v, s), m); m }
    }

  private def listCommitFiles(f: org.apache.hadoop.fs.FileSystem)
      : Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
    if (!f.exists(commitsDir)) { parsedCache.clear(); Nil }
    else {
      val present = f.listStatus(commitsDir).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption
          .map(_ -> s))
      val live = present.map { case (v, s) => cacheKey(v, s) }.toSet
      parsedCache.keys.filterNot(live).foreach(parsedCache.remove)
      present
    }

  /** All parseable commits, ascending by version. Torn commit files
    * (a writer died between create and write on a store without
    * atomic rename) are skipped, not fatal.
    */
  def commits(spark: SparkSession): Seq[(Long, M)] = {
    val f = hfs(spark)
    listCommitFiles(f)
      .flatMap { case (v, s) => readParsed(f, v, s).map(v -> _) }
      .sortBy(_._1)
  }

  /** Latest commit WITHOUT parsing the whole retained history: one
    * listing, then manifests tried newest-first until one parses
    * (torn debris of a dead writer is skipped exactly as [[commits]]
    * does). The admission stores resolve several times per writer
    * turn and their manifests grow with the bucket count, so
    * re-parsing all retained generations per resolve is the kind of
    * constant that quietly scales with the store.
    */
  def resolveLatest(spark: SparkSession): Option[(Long, M)] = {
    val f = hfs(spark)
    listCommitFiles(f)
      .sortBy(-_._1)
      .iterator
      .flatMap { case (v, s) => readParsed(f, v, s).map(v -> _) }
      .nextOption()
  }

  def resolve(spark: SparkSession): Option[M] =
    resolveLatest(spark).map(_._2)

  /** Claim `version` with manifest `m` — true iff THIS writer won. */
  def tryCommit(spark: SparkSession, version: Long, m: M): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val f = commitsDir.getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(commitsDir, version.toString)
    val won = AtomicClaim.claim(
      f, conf, dst,
      serializeM(m).getBytes("UTF-8"),
      () => scala.util.Try {
        val in = f.open(dst)
        val content = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
        parseM(version, content).isDefined
      }.getOrElse(false))
    if (won) // our commit is on disk verbatim; one status RPC keys it
      scala.util.Try(f.getFileStatus(dst))
        .foreach(s => parsedCache.put(cacheKey(version, s), m))
    won
  }

  /** Claim `version` once and, on a win, run retention GC — the
    * single-shot counterpart of [[commitWithRetry]], for writers that
    * must not retry. True iff THIS writer won.
    */
  def commitOnce(spark: SparkSession, version: Long, m: M): Boolean = {
    val won = tryCommit(spark, version, m)
    if (won) gcAfter(spark, commits(spark))
    won
  }

  /** Retention GC after a successful commit: drop commit files beyond
    * the newest `retainVersions` and every data directory they
    * referenced that no retained manifest still references.
    */
  def gcAfter(spark: SparkSession, all: Seq[(Long, M)]): Unit = {
    val f = hfs(spark)
    val keep = all.takeRight(retainVersions)
      .flatMap(m => filesOf(spark, m._2)).toSet
    all.dropRight(retainVersions).foreach { case (v, m) =>
      // resolve the dropped version's files BEFORE deleting anything
      // of it (two-level manifests read their group files here)
      filesOf(spark, m).filterNot(keep)
        .foreach(d => f.delete(sub(d), true))
      onDrop(spark, v)
      f.delete(new org.apache.hadoop.fs.Path(commitsDir, v.toString), false)
    }
  }

  def deleteDirs(spark: SparkSession, dirs: Seq[String]): Unit =
    dirs.foreach(d => hfs(spark).delete(sub(d), true))

  /** The ONE spelling of the claim-retry protocol: `attempt` sees
    * (next version, current manifest) and returns `Some((manifest,
    * freshly written dirs))` to claim, or `None` to no-op (idempotent
    * replay, nothing to do). On a lost race: `cleanupPerRace = true`
    * deletes the attempt's dirs before re-deriving against the
    * winner's state (mutations whose output depends on the current
    * manifest); `false` keeps them across retries (full-replacement
    * builds whose output depends on nothing) and reclaims them only on
    * final exhaustion. `beforeCommit` is the stores' test seam.
    * Returns the committed manifest, or None when the attempt no-op'd.
    */
  def commitWithRetry(spark: SparkSession, errIfEmpty: Option[String],
                      beforeCommit: Long => Unit,
                      cleanupPerRace: Boolean)(
      attempt: (Long, Option[M]) => Option[(M, Seq[String])]): Option[M] = {
    @scala.annotation.tailrec
    def loop(attemptsLeft: Int): Option[M] = {
      // the loop needs only (next version, latest manifest) — one
      // newest-first resolve per attempt; the full retained history is
      // parsed exactly once, for the GC after a successful claim
      val latest = resolveLatest(spark)
      errIfEmpty.foreach(msg => require(latest.nonEmpty, msg))
      val ver = latest.map(_._1).getOrElse(-1L) + 1
      attempt(ver, latest.map(_._2)) match {
        case None => None
        case Some((m2, dirs)) =>
          beforeCommit(ver)
          if (commitOnce(spark, ver, m2)) Some(m2)
          else {
            if (cleanupPerRace || attemptsLeft <= 1) deleteDirs(spark, dirs)
            if (attemptsLeft <= 1)
              throw new java.util.ConcurrentModificationException(
                s"gave up claiming a version of $path after repeated conflicts")
            loop(attemptsLeft - 1)
          }
      }
    }
    loop(5)
  }

  /** Per-GENERATION parquet-relation cache — the ONE spelling of the
    * probe-cache discipline all three artifact stores share (it was
    * previously copied per store): manifest resolution stays per-call
    * (that IS the snapshot isolation against concurrent mutators), but
    * a committed generation's data directories are immutable, so an
    * unchanged generation's relations (partition discovery + schema
    * inference — the per-probe driver cost) are safely reused. Keyed
    * by the owning SparkSession AND the manifest's exact
    * serialization: a different session rebuilds (DataFrames are
    * session-bound), and any mutation commit changes the key on its
    * next read.
    */
  @volatile private var relCache
      : Option[(SparkSession, String, Map[String, DataFrame])] = None

  def cachedRelations(spark: SparkSession, m: M, dirs: Seq[String])
      : Map[String, DataFrame] = {
    val key = serializeM(m)
    relCache match {
      case Some((s, k, rels)) if (s eq spark) && k == key => rels
      case _ =>
        val rels = dirs.map(d => d -> spark.read.parquet(subPath(d))).toMap
        relCache = Some((spark, key, rels))
        rels
    }
  }

  /** The union of a manifest's segment relations, through the cache —
    * the generic segment-store read under the PQ and SQ8 codes stores
    * (IvfIndex adds per-segment exclusion filters, so it composes
    * [[cachedRelations]] directly).
    */
  def unionOf(spark: SparkSession, m: M, dirs: Seq[String]): DataFrame = {
    val rels = cachedRelations(spark, m, dirs)
    dirs.map(rels).reduce(_.unionByName(_))
  }

  /** Reclaim orphan data directories (name accepted by `isCandidate`,
    * unreferenced by ANY present commit, older than the horizon).
    * Returns the reclaimed directory names.
    */
  def vacuum(spark: SparkSession, isCandidate: String => Boolean,
             olderThanMs: Long): Seq[String] = {
    val f = hfs(spark)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(root)) return Seq.empty
    val referenced = commits(spark).flatMap(c => filesOf(spark, c._2)).toSet
    val horizon = System.currentTimeMillis() - olderThanMs
    val orphans = f.listStatus(root).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isDirectory && isCandidate(n) &&
        !referenced.contains(n) && s.getModificationTime < horizon
    }
    orphans.foreach(s => f.delete(s.getPath, true))
    orphans.map(_.getPath.getName)
  }
}
