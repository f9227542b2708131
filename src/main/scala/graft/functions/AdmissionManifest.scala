package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.GenerationLog

/** The streaming-admission store ([[Dedup.admitByKeys]]'s persisted
  * key relation): a commit log over immutable parquet files. The
  * store's source of truth is the log, never a directory listing, so
  * the protocol holds on object stores (where rename is a copy and
  * listing is eventually consistent) exactly as on HDFS. It reuses the
  * codes stores' discipline ([[GenerationLog]] — tmp-write +
  * rename-without-overwrite CAS on `_commits/<v>`, retention GC, orphan
  * vacuum):
  *
  *  - the committed generation is a MANIFEST-LIST: a small ROOT
  *    manifest carrying the layout declaration (`nBuckets`,
  *    `maxDepth`, the per-bucket depth map — O(split buckets)), the
  *    bounded tail's file list, and references to immutable per-GROUP
  *    manifest files (`gm-*`, one per `addr % nGroups` slice) that in
  *    turn carry `bucket addr -> [files]`. A mutation stages fresh
  *    group manifests for ONLY the groups its touched addresses fall
  *    in and commits a root swapping those references — O(touched)
  *    commit payload however many files the store holds.
  *  - every file entry carries the BYTE SIZE recorded at staging
  *    time, so `stats`/`bucketSizes`/the fold's byte budget read the
  *    manifest instead of issuing one `getFileStatus` round-trip per
  *    file — on an object store that sweep would be O(files)
  *    sequential RPCs per maintenance turn;
  *  - data files NEVER move: every mutation (tail append, fold,
  *    compact, split, removal, expiry, stamp, rebucket) writes fresh
  *    uniquely-named directories BESIDE the live ones and commits a
  *    manifest that swaps the affected locations' file lists — no
  *    rename-as-commit anywhere, snapshot isolation for concurrent
  *    probes for free (a probe that resolved generation v keeps
  *    reading v's immutable files while v+1 commits; retention keeps
  *    the last [[retainVersions]] generations' files alive);
  *  - every mutation derives its output INSIDE the commit-retry
  *    attempt ([[GenerationLog.commitWithRetry]], the codes stores'
  *    append rule): a lost CAS race deletes the attempt's staging
  *    (data files AND group manifests) and re-derives against the
  *    winner's manifest, so commits are SERIALIZABLE — a removal
  *    completes in one call beside a concurrent fold, and a completed
  *    split never deletes the files a concurrent decision is reading
  *    (maintenance only moves rows, so a decision against any
  *    generation sees the complete key set).
  *
  * The first admission creates the store ([[initIfAbsent]]); every
  * other entry point opens an existing one ([[AdmissionManifestStore.open]]).
  * A root in the retired listing layout (bucket directories renamed
  * into place, no `_commits`) is refused with a pointer to the replay
  * migration — admit its documents into a fresh store.
  */
private[graft] final class AdmissionManifestStore(storePath: String) {
  import AdmissionManifestStore._
  import Dedup.admissionKeyColumns

  /** Turns commit 2-4 generations each (append, fold, compact,
    * split), so in-flight readers need more retained generations than
    * the codes stores' 2 to keep their snapshot's files alive across
    * a writer turn.
    */
  private val retainVersions = 8

  private[graft] val log = new GenerationLog[AdmissionManifest](
    storePath, (_, s) => AdmissionManifest.parse(s), _.serialize,
    (sp, m) => transitiveFiles(sp, m), retainVersions)

  private def hfs(spark: SparkSession) = log.hfs(spark)

  def resolve(spark: SparkSession): Option[AdmissionManifest] =
    log.resolve(spark)

  private def resolved(spark: SparkSession): AdmissionManifest =
    resolve(spark).getOrElse(throw new IllegalStateException(
      s"no admission manifest at $storePath — the store root has a " +
        "_commits directory but no parseable commit"))

  /** First-admission initialization: commit generation 0 declaring
    * the layout. Idempotent; a concurrent twin loses the CAS and
    * no-ops against the winner's declaration. Only this creation path
    * checks for a retired listing-layout root — a turn on an existing
    * store pays no extra listing.
    */
  def initIfAbsent(spark: SparkSession, nBuckets: Int): AdmissionManifest = {
    resolve(spark) match {
      case Some(m) => requireLayout(m, nBuckets); m
      case None =>
        requireNoListingLayout(hfs(spark), storePath)
        log.commitWithRetry(spark, None, _ => (), cleanupPerRace = true) {
          (_, manOpt) =>
            manOpt match {
              case Some(m) => requireLayout(m, nBuckets); None
              case None => Some((AdmissionManifest(nBuckets,
                defaultGroupCount, 0, Map.empty, Nil, Map.empty), Nil))
            }
        }
        resolved(spark)
    }
  }

  private def requireLayout(m: AdmissionManifest, nBuckets: Int): Unit =
    require(m.nBuckets == nBuckets,
      s"admission store at $storePath is laid out over ${m.nBuckets} " +
        s"buckets but the caller passed nBuckets=$nBuckets — probing " +
        s"the wrong addresses silently under-suppresses; pass " +
        s"nBuckets=${m.nBuckets} (or migrate with rebucketAdmitted)")

  // ------------------------ group manifests ------------------------

  /** Parsed group-manifest cache: group files are IMMUTABLE and
    * uniquely named (`gm-<uid>`), so an entry can never go stale —
    * only unreachable (superseded or GC'd). LRU-capped so a long
    * mutation history cannot accrete heap; eviction only costs a
    * re-parse.
    */
  private val groupCache =
    new java.util.LinkedHashMap[String, AdmissionGroup](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, AdmissionGroup]): Boolean =
        size() > 1024
    }

  private def cachedGroup(name: String): Option[AdmissionGroup] =
    groupCache.synchronized(Option(groupCache.get(name)))

  private def cacheGroup(name: String, g: AdmissionGroup): Unit =
    groupCache.synchronized { groupCache.put(name, g); () }

  /** Load one group manifest. `tolerateMissing` is for GC/vacuum
    * reference resolution ONLY (a dropped generation's group file may
    * have been reclaimed by an earlier GC pass that already handled
    * its data files — see [[GenerationLog.gcAfter]]), and tolerates
    * exactly ABSENCE: a group file that exists but fails to read or
    * parse is loud even there — treating a transient IO failure as
    * "empty group" would under-fill the GC keep-set and let it delete
    * a live generation's data files. Reads on the live path fail
    * loudly unconditionally.
    */
  private def loadGroup(spark: SparkSession, name: String,
      tolerateMissing: Boolean): AdmissionGroup =
    cachedGroup(name).getOrElse {
      val fs = hfs(spark)
      scala.util.Try {
        val in = fs.open(log.sub(name))
        val content = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
        AdmissionGroup.parse(content).get
      } match {
        case scala.util.Success(g) => cacheGroup(name, g); g
        case scala.util.Failure(e) =>
          if (tolerateMissing &&
              scala.util.Try(!fs.exists(log.sub(name))).getOrElse(false))
            AdmissionGroup(Map.empty)
          else throw new IllegalStateException(
            s"unreadable admission group manifest $storePath/$name", e)
      }
    }

  /** The file lists of exactly `addrs` — reads only the groups those
    * addresses fall in (the manifest-list pruning).
    */
  private[graft] def bucketsFor(spark: SparkSession,
      man: AdmissionManifest, addrs: Seq[Int]): Map[Int, Seq[AdmFile]] =
    addrs.distinct.groupBy(man.gid).flatMap { case (g, as) =>
      man.groups.get(g) match {
        case None => Nil
        case Some(name) =>
          val gr = loadGroup(spark, name, tolerateMissing = false)
          as.flatMap(a => gr.buckets.get(a).map(a -> _))
      }
    }

  /** Every bucket's file list — O(groups) manifest reads; only the
    * full-sweep paths (takedown-by-id, expiry, stamping, rebucket,
    * stats) pay it, and those read O(store) data anyway.
    */
  private[graft] def allBuckets(spark: SparkSession,
      man: AdmissionManifest): Map[Int, Seq[AdmFile]] =
    man.groups.values.foldLeft(Map.empty[Int, Seq[AdmFile]]) {
      (acc, name) =>
        acc ++ loadGroup(spark, name, tolerateMissing = false).buckets
    }

  /** The transitive file set a root generation references: tail files,
    * group-manifest files, and every bucket file the groups carry —
    * what retention GC and vacuum must treat as live.
    */
  private def transitiveFiles(spark: SparkSession,
      man: AdmissionManifest): Seq[String] =
    man.tail.map(_.path) ++ man.groups.values.toSeq.flatMap { name =>
      name +: loadGroup(spark, name, tolerateMissing = true)
        .buckets.values.flatten.map(_.path).toSeq
    }

  /** Stage fresh group-manifest files carrying `updates` (the full
    * new file list per touched address; empty = drop the address) —
    * one small driver-side text write per TOUCHED group, never a
    * rewrite of the untouched groups (their references carry forward
    * by name). Returns the new gid→file map plus the staged names
    * (lost-race cleanup deletes them with the data staging).
    */
  private def writeGroups(spark: SparkSession, man: AdmissionManifest,
      updates: Map[Int, Seq[AdmFile]]): (Map[Int, String], Seq[String]) = {
    val fs = hfs(spark)
    var groups2 = man.groups
    val fresh = Seq.newBuilder[String]
    updates.keys.groupBy(man.gid).foreach { case (g, as) =>
      val cur = man.groups.get(g)
        .map(loadGroup(spark, _, tolerateMissing = false))
        .getOrElse(AdmissionGroup(Map.empty))
      val bs2 = as.foldLeft(cur.buckets) { (bs, a) =>
        updates(a) match {
          case Nil => bs - a
          case fls => bs.updated(a, fls)
        }
      }
      if (bs2.isEmpty) groups2 -= g
      else {
        val name = s"gm-${log.uid}"
        val grp = AdmissionGroup(bs2)
        val out = fs.create(log.sub(name), false)
        try out.write(grp.serialize.getBytes("UTF-8")) finally out.close()
        cacheGroup(name, grp)
        groups2 = groups2.updated(g, name)
        fresh += name
      }
    }
    (groups2, fresh.result())
  }

  // ----------------------------- reads -----------------------------

  /** Stage a relation carrying `adm_kb` into per-address files under
    * `dir` while KEEPING `adm_kb` as a data column: the partition
    * directory (`adm_kb_p=`) exists only so [[stagedByAddr]] can
    * assign staged files to addresses from the listing, never so a
    * reader can re-infer the address. The MANIFEST is the address
    * map, so reads must not depend on directory structure — keeping
    * the column in the data lets every read be ONE plain parquet read
    * of the manifest's file lists (no basePath partition discovery,
    * no per-generation reader; live generation-dir count grows with
    * churn, and a reader per generation would pay its own driver-side
    * schema job per probe/detection read).
    */
  /** `inputBytes`: the staged relation's source size, read off the
    * manifest's recorded file sizes — drives the shuffle fan-out
    * ([[AdmissionManifestStore.stagePartitions]]); a turn-sized fold
    * must not pay a machine-parallelism task wave, a corpus-sized
    * rebucket keeps it.
    */
  private def stageByAddr(df: DataFrame, dir: String,
      inputBytes: Long): Unit =
    df.withColumn("adm_kb_p", col("adm_kb"))
      .repartition(stagePartitions(df.sparkSession, inputBytes),
        col("adm_kb_p"))
      .write.mode("overwrite").partitionBy("adm_kb_p")
      .parquet(log.subPath(dir))

  private def listStaged(spark: SparkSession, dir: String): Seq[AdmFile] = {
    val fs = hfs(spark)
    val p = log.sub(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { s =>
      if (s.isFile && s.getPath.getName.endsWith(".parquet"))
        Seq(AdmFile(s"$dir/${s.getPath.getName}", s.getLen))
      else if (s.isDirectory && s.getPath.getName.startsWith("adm_kb_p="))
        fs.listStatus(s.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => AdmFile(
            s"$dir/${s.getPath.getName}/${f.getPath.getName}", f.getLen))
      else Nil
    }
  }

  /** The staged bucket files of a partitioned staging dir, keyed by
    * bucket address (paths relative to the store root; sizes recorded
    * from the SAME listing — this is where the manifest's byte sizes
    * come from, so no later stats call ever re-asks the filesystem).
    */
  private def stagedByAddr(spark: SparkSession,
      dir: String): Map[Int, Seq[AdmFile]] =
    listStaged(spark, dir)
      .filter(_.path.split("/")(1).startsWith("adm_kb_p="))
      .groupBy(_.path.split("/")(1).stripPrefix("adm_kb_p=").toInt)

  /** ONE plain parquet read of a manifest file list — `adm_kb` is a
    * data column (see [[stageByAddr]]), so no basePath, no partition
    * inference, one reader however many generations the files span.
    * Cross-generation schema drift stays tolerated (absent columns
    * null — the fail-closed legacy rule), but the schema now resolves
    * DRIVER-SIDE from the memoized footers ([[AdmissionSchema]] —
    * manifest data files are write-once, and the manifest already
    * carries their byte sizes) instead of paying mergeSchema's
    * footer-merge Spark job on every probe/fold/compact read;
    * mergeSchema remains the bit-identical fallback.
    */
  private def readFiles(spark: SparkSession,
      files: Seq[AdmFile]): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val paths = files.map(f => log.subPath(f.path))
      AdmissionSchema.of(spark.sparkContext.hadoopConfiguration,
          files.map(f => (new org.apache.hadoop.fs.Path(
            log.subPath(f.path)), f.size))) match {
        case Some(schema) =>
          Some(spark.read.schema(schema).parquet(paths: _*))
        case None =>
          Some(spark.read.option("mergeSchema", "true").parquet(paths: _*))
      }
    }

  /** The probe relation a micro-batch joins: exactly the `touched`
    * addresses' manifest file lists (read through only their groups'
    * manifests) plus the bounded tail — the manifest lookup IS the
    * partition pruning (no directory listing, no existence probes),
    * and the resolved generation's files are immutable, so the read
    * can never race a concurrent mutation.
    */
  def probeRel(spark: SparkSession, man: AdmissionManifest,
      keyCols: Seq[String], touched: Seq[Int],
      suppressSince: Long): Option[DataFrame] = {
    val bucketFiles = bucketsFor(spark, man, touched)
      .values.flatten.toSeq
    readFiles(spark, bucketFiles ++ man.tail)
      .map(df => inWindow(df, suppressSince)
        .select(col("doc_id").as("s_id") +:
          keyCols.map(c => col(c).as(s"s_$c")): _*))
  }

  // --------------------------- mutations ---------------------------

  /** Append one tail file of freshly admitted keys: stage the file in
    * a new `t-` directory, commit `tail ++ [file]`. The staged data
    * depends on nothing in the manifest, so a lost race keeps it and
    * simply re-commits against the winner (cleanupPerRace = false —
    * the codes stores' full-replacement rule). No group is touched:
    * the commit payload is the root alone.
    */
  def appendTail(spark: SparkSession, keys: DataFrame,
                 nBuckets: Int): Unit = {
    val dir = s"t-${log.uid}"
    keys.repartition(1).write.mode("overwrite").parquet(log.subPath(dir))
    val files = listStaged(spark, dir)
    if (files.isEmpty) { hfs(spark).delete(log.sub(dir), true); return }
    log.commitWithRetry(spark, Some(noStore), beforeCommit,
      cleanupPerRace = false) { (_, manOpt) =>
      val man = manOpt.get
      requireLayout(man, nBuckets)
      Some((man.copy(tail = man.tail ++ files), files.map(_.path)))
    }
  }

  /** Fold the tail into the bucket lists when it exceeds the file or
    * byte budget (byte sizes read from the manifest — no status
    * RPCs), then compact folded buckets over the file budget.
    * Everything derives inside the attempt, so a raced fold re-reads
    * the winner's tail. Only the folded addresses' groups rewrite;
    * expired rows (`expireBefore`) are shed in the fold itself and
    * never reach L1. Returns the folded bucket addresses.
    */
  def foldAndCompact(spark: SparkSession, autoCompactFiles: Int,
      tailFoldFiles: Int, expireBefore: Long): Seq[Int] = {
    var folded: Seq[Int] = Nil
    log.commitWithRetry(spark, Some(noStore), beforeCommit,
      cleanupPerRace = true) { (_, manOpt) =>
      val man = manOpt.get
      folded = Nil
      if (man.tail.isEmpty) None
      else {
        val bytes = man.tail.map(_.size).sum
        if (man.tail.length <= tailFoldFiles &&
            bytes <= tailMaxBytes) None
        else {
          val raw = inWindow(
            readFiles(spark, man.tail).get, expireBefore)
          // re-route through the CURRENT depth map (stored adm_kb was
          // routed at admission time and may predate splits since) so
          // folded rows land in their live — deepest — bucket; stale
          // placement would still be probe-correct (shallower on the
          // same chain), this just keeps deep buckets from re-growing
          val splits = man.splits
          val routed =
            if (splits.depthByAddr.isEmpty) raw
            else {
              val keyCols = admissionKeyColumns(raw.columns.toSeq)
              raw.drop("adm_kb").withColumn("adm_kb",
                Dedup.routedAddr(xxhash64(keyCols.map(col): _*),
                  man.nBuckets, splits))
            }
          val dir = s"fold-${log.uid}"
          stageByAddr(routed, dir, bytes)
          val byAddr = stagedByAddr(spark, dir)
          folded = byAddr.keys.toSeq
          val cur = bucketsFor(spark, man, folded)
          val updates = byAddr.map { case (a, fls) =>
            a -> (cur.getOrElse(a, Nil) ++ fls)
          }
          val (groups2, gms) = writeGroups(spark, man, updates)
          Some((man.copy(tail = Nil, groups = groups2),
            byAddr.values.flatten.map(_.path).toSeq ++ gms))
        }
      }
    }
    if (folded.nonEmpty)
      compactBuckets(spark, folded, autoCompactFiles, expireBefore)
    folded
  }

  /** Rewrite any of `buckets` holding more than `maxFiles` files into
    * one deduplicated (newest-stamp) file each — one staged
    * partitioned write, one commit swapping the touched groups'
    * lists. `expireBefore` > 0 folds retention into the rewrite for
    * free: a bucket that keeps growing keeps crossing the file budget
    * and keeps shedding expired rows.
    */
  def compactBuckets(spark: SparkSession, buckets: Seq[Int],
      maxFiles: Int, expireBefore: Long): Seq[Int] = {
    var compacted: Seq[Int] = Nil
    log.commitWithRetry(spark, Some(noStore), beforeCommit,
      cleanupPerRace = true) { (_, manOpt) =>
      val man = manOpt.get
      compacted = Nil
      val candidates = bucketsFor(spark, man, buckets.distinct)
      val over = candidates.filter(_._2.length > maxFiles)
      if (over.isEmpty) None
      else {
        val cur = readFiles(spark, over.values.flatten.toSeq).get
        val live =
          if (expireBefore <= 0L) cur else inWindow(cur, expireBefore)
        // collapse replayed appends keeping the NEWEST stamp — max is
        // the suppression-conservative choice for windowed dedup;
        // plain distinct would keep one row per (key, ts) and let
        // replays grow the store. max ignores nulls, so an unstamped
        // row merged with a stamped re-admission takes the concrete
        // stamp, and an all-unstamped group stays null (= in-window
        // forever, the fail-closed rule)
        val dedup =
          if (!live.columns.contains("adm_ts")) live.distinct()
          else live.groupBy(live.columns.filterNot(_ == "adm_ts")
              .map(col).toIndexedSeq: _*)
            .agg(max(col("adm_ts")).as("adm_ts"))
        val dir = s"cp-${log.uid}"
        stageByAddr(dedup, dir, over.values.flatten.map(_.size).sum)
        val byAddr = stagedByAddr(spark, dir)
        compacted = over.keys.toSeq
        // a bucket whose rows ALL expired ends file-less: drop its key
        val updates = over.keys.map(a => a -> byAddr.getOrElse(a, Nil)).toMap
        val (groups2, gms) = writeGroups(spark, man, updates)
        Some((man.copy(groups = groups2),
          byAddr.values.flatten.map(_.path).toSeq ++ gms))
      }
    }
    compacted
  }

  /** Split ONE bucket into its power-of-two children — the online
    * growth step. One commit carries the rekeyed lists AND the depth
    * declaration atomically, so no reader ever sees moved rows without
    * the deeper chain that reaches them. Returns rows rewritten.
    */
  def splitBucket(spark: SparkSession, addr: Int): Long = {
    var moved = 0L
    log.commitWithRetry(spark, Some(noStore), beforeCommit,
      cleanupPerRace = true) { (_, manOpt) =>
      val man = manOpt.get
      moved = 0L
      val files = bucketsFor(spark, man, Seq(addr)).getOrElse(addr, Nil)
      if (files.isEmpty) None
      else {
        val depth = man.depthByAddr.getOrElse(addr, 0)
        val newDepth = depth + 1
        require((man.nBuckets.toLong << newDepth) <= Int.MaxValue.toLong,
          s"splitAdmittedBucket: depth $newDepth over base " +
            s"${man.nBuckets} overflows the int bucket address space")
        val cur = readFiles(spark, files).get
        val keyCols = admissionKeyColumns(cur.columns.toSeq)
        require(keyCols.nonEmpty,
          s"splitAdmittedBucket: no key columns under $storePath")
        val rekeyed = cur.drop("adm_kb").withColumn("adm_kb",
          pmod(xxhash64(keyCols.map(col): _*),
            lit(man.nBuckets.toLong << newDepth)).cast("int"))
        val obs = new org.apache.spark.sql.Observation(
          s"msplit-$addr-${log.uid}")
        val dir = s"split-${log.uid}"
        stageByAddr(rekeyed.observe(obs, count(lit(1)).as("n")), dir,
          files.map(_.size).sum)
        moved = obs.get("n").asInstanceOf[Long]
        val byAddr = stagedByAddr(spark, dir)
        val updates = Map(addr -> Seq.empty[AdmFile]) ++ byAddr
        val (groups2, gms) = writeGroups(spark, man, updates)
        Some((man.copy(
          maxDepth = math.max(man.maxDepth, newDepth),
          depthByAddr = man.depthByAddr - addr ++
            byAddr.keys.map(_ -> newDepth),
          groups = groups2),
          byAddr.values.flatten.map(_.path).toSeq ++ gms))
      }
    }
    moved
  }

  /** The shared store rewrite under removal/expiry/stamp: read the
    * target addresses' files (and the tail), stage `keepOf`'s output,
    * commit the swapped lists. `targetsOf = Some(f)` re-derives the
    * touched addresses from the CURRENT manifest on every attempt (so
    * a concurrent split can never move a target row off the rewrite's
    * chains) and reads only their groups; `None` is the
    * full sweep (every bucket — O(groups) manifest reads, which a
    * sweep's O(store) data read dominates anyway). Returns `hitsOf`'s
    * row count.
    */
  def rewriteStore(spark: SparkSession,
      targetsOf: Option[AdmissionManifest => Seq[Int]],
      hitsOf: DataFrame => DataFrame,
      keepOf: DataFrame => DataFrame): Long = {
    var hits = 0L
    log.commitWithRetry(spark, Some(noStore), beforeCommit,
      cleanupPerRace = true) { (_, manOpt) =>
      val man = manOpt.get
      hits = 0L
      val targetLists: Map[Int, Seq[AdmFile]] = (targetsOf match {
        case None => allBuckets(spark, man)
        case Some(f) => bucketsFor(spark, man, f(man).distinct)
      }).filter(_._2.nonEmpty)
      val bucketRel = readFiles(spark, targetLists.values.flatten.toSeq)
      val tailRel = readFiles(spark, man.tail)
      // one detection job over both levels: per-bucket hit counts
      // (tail rows count under their stored adm_kb — only presence
      // matters for which lists to swap, and tail rows are always
      // rewritten with the tail)
      val bucketHits: Map[Int, Long] = bucketRel.map { rel =>
        hitsOf(rel).groupBy(col("adm_kb")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      }.getOrElse(Map.empty)
      val tailHits: Long =
        tailRel.map(rel => hitsOf(rel).count()).getOrElse(0L)
      hits = bucketHits.values.sum + tailHits
      if (hits == 0L) None
      else {
        var staged: Seq[String] = Nil
        var groups2 = man.groups
        if (bucketHits.nonEmpty) {
          val hitAddrs = bucketHits.keySet
          // the MANIFEST's per-address file lists prune the keep-read
          // to exactly the hit buckets' files — stronger than parquet
          // partition pruning (file-level, no directory layout
          // involved), and no-hit buckets stay unread and untouched
          val hitFiles = hitAddrs.toSeq
            .flatMap(a => targetLists.getOrElse(a, Nil))
          val keep = keepOf(readFiles(spark, hitFiles).get)
          val dir = s"rw-${log.uid}"
          stageByAddr(keep, dir, hitFiles.map(_.size).sum)
          val byAddr = stagedByAddr(spark, dir)
          staged ++= byAddr.values.flatten.map(_.path)
          val updates = hitAddrs.map(a =>
            a -> byAddr.getOrElse(a, Nil)).toMap
          val (g2, gms) = writeGroups(spark, man, updates)
          groups2 = g2
          staged ++= gms
        }
        var tail2 = man.tail
        if (tailHits > 0L) {
          val dir = s"t-${log.uid}"
          keepOf(tailRel.get).repartition(1)
            .write.mode("overwrite").parquet(log.subPath(dir))
          val files = listStaged(spark, dir)
          staged ++= files.map(_.path)
          tail2 = files
        }
        Some((man.copy(tail = tail2, groups = groups2), staged))
      }
    }
    hits
  }

  /** Transform-shaped rewrite (stamping): every target row is kept,
    * transformed — `hitsOf` still gates which lists rewrite.
    */
  def transformStore(spark: SparkSession,
      hitsOf: DataFrame => DataFrame,
      keepOf: DataFrame => DataFrame): Long =
    rewriteStore(spark, None, hitsOf, keepOf)

  /** Full layout migration to `newN` base buckets — one read of every
    * row, one staged partitioned write, ONE commit swapping the whole
    * layout (nBuckets, depth map reset, every group). Not exclusive:
    * concurrent probes keep their generation, and a raced mutation
    * simply re-derives against the migrated manifest. Returns rows
    * moved.
    */
  def rebucket(spark: SparkSession, newN: Int): Long = {
    require(newN > 0, s"newN must be positive: $newN")
    var moved = 0L
    log.commitWithRetry(spark, Some(noStore), beforeCommit,
      cleanupPerRace = true) { (_, manOpt) =>
      val man = manOpt.get
      moved = 0L
      val allLists = allBuckets(spark, man)
      if (allLists.isEmpty && man.tail.isEmpty)
        Some((AdmissionManifest(newN, defaultGroupCount, 0, Map.empty,
          Nil, Map.empty), Nil))
      else {
        // every stored row carries adm_kb as a data column — drop it
        // and re-key under the new modulus (same derivation as
        // admission itself); one read covers buckets AND tail
        val cur = readFiles(spark,
          allLists.values.flatten.toSeq ++ man.tail).get.drop("adm_kb")
        val keyCols = admissionKeyColumns(cur.columns.toSeq)
        require(keyCols.nonEmpty,
          s"rebucketAdmitted: no key columns under $storePath")
        val rekeyed = cur.withColumn("adm_kb",
          pmod(xxhash64(keyCols.map(col): _*), lit(newN)).cast("int"))
        val obs = new org.apache.spark.sql.Observation(s"mrb-${log.uid}")
        val dir = s"rb-${log.uid}"
        stageByAddr(rekeyed.observe(obs, count(lit(1)).as("n")), dir,
          allLists.values.flatten.map(_.size).sum +
            man.tail.map(_.size).sum)
        moved = obs.get("n").asInstanceOf[Long]
        val byAddr = stagedByAddr(spark, dir)
        val fresh = AdmissionManifest(newN, defaultGroupCount, 0,
          Map.empty, Nil, Map.empty)
        val (groups2, gms) = writeGroups(spark, fresh, byAddr)
        Some((fresh.copy(groups = groups2),
          byAddr.values.flatten.map(_.path).toSeq ++ gms))
      }
    }
    moved
  }

  /** Operational snapshot from the manifest alone — byte sizes were
    * recorded at staging time, so this issues ZERO per-file status
    * RPCs (one `getFileStatus` per file would be O(files) sequential
    * round-trips per maintenance turn on an object store).
    */
  def stats(spark: SparkSession): Dedup.AdmissionStoreStats = {
    val man = resolved(spark)
    val perBucket = allBuckets(spark, man).map { case (_, fls) =>
      (fls.length, fls.map(_.size).sum) }
    Dedup.AdmissionStoreStats(
      buckets = perBucket.size,
      bucketFiles = perBucket.map(_._1.toLong).sum,
      bucketBytes = perBucket.map(_._2).sum,
      maxBucketFiles =
        if (perBucket.isEmpty) 0 else perBucket.map(_._1).max,
      tailFiles = man.tail.length,
      tailBytes = man.tail.map(_.size).sum,
      declaredBuckets = Some(man.nBuckets),
      maxDepth = man.maxDepth,
      splitBuckets = man.depthByAddr.size)
  }

  /** Per-bucket (addr, files, bytes) — the maintenance policy's
    * signal, manifest-derived, zero status RPCs.
    */
  def bucketSizes(spark: SparkSession): Seq[(Int, Int, Long)] = {
    val man = resolved(spark)
    allBuckets(spark, man).toSeq.map { case (a, fls) =>
      (a, fls.length, fls.map(_.size).sum)
    }
  }

  /** Reclaim staging a crashed mutator orphaned: any root-level
    * directory under this store's staging prefixes — or orphaned
    * `gm-` group-manifest file — older than the horizon, that no
    * present commit references (transitively, through the group
    * manifests). (The shared [[GenerationLog.vacuum]] matches
    * directory names against referenced entries, which are FILE paths
    * here — so the admission store carries its own sweep.)
    *
    * Default horizon 24 h: every mutation here derives its staging INSIDE the
    * commit-retry attempt, so an attempt stalled past the horizon (GC
    * pause, slow object store) whose staging a vacuum swept can still
    * WIN its CAS and commit a manifest referencing deleted files —
    * silently losing admitted keys. A 1 h margin is inside plausible
    * stall territory; a day is not.
    */
  def vacuum(spark: SparkSession, olderThanMs: Long = 86400000L)
      : Seq[String] = {
    val fs = hfs(spark)
    val root = new org.apache.hadoop.fs.Path(storePath)
    if (!fs.exists(root)) return Nil
    val referenced = log.commits(spark)
      .flatMap(c => transitiveFiles(spark, c._2))
      .map(_.split("/")(0)).toSet
    val horizon = System.currentTimeMillis() - olderThanMs
    val orphans = fs.listStatus(root).toSeq.filter { s =>
      val n = s.getPath.getName
      val candidate =
        (s.isDirectory && stagingPrefixes.exists(n.startsWith)) ||
          (s.isFile && n.startsWith("gm-"))
      candidate && !referenced.contains(n) &&
        s.getModificationTime < horizon
    }
    orphans.foreach(s => fs.delete(s.getPath, true))
    orphans.map(_.getPath.getName)
  }

  private def noStore: String =
    s"no admission manifest at $storePath — admit a batch first"

  private def beforeCommit(version: Long): Unit =
    AdmissionManifestStore.beforeCommitFence(storePath, version)
}

private[graft] object AdmissionManifestStore {
  /** Staging-directory prefixes a mutation can orphan. */
  private val stagingPrefixes =
    Seq("t-", "fold-", "cp-", "split-", "rw-", "rb-")

  /** Bucket addresses are sliced into this many manifest groups
    * (`addr % defaultGroupCount`); declared per generation in the
    * root, so a migration could re-slice. 64 keeps every group's
    * manifest a small text file while a mutation touching a handful
    * of addresses rewrites 1-4 groups.
    */
  private val defaultGroupCount = 64

  /** One hard byte budget on the L0 tail, independent of the file
    * budget: a single bulk-load batch writes one file but can be
    * corpus-fraction-sized, and the next batch would pay that full
    * read — the byte trigger folds it into L1 immediately.
    */
  private val tailMaxBytes: Long = 8L << 20

  /** Shuffle-partition count for a staged store rewrite, derived from
    * the KNOWN input byte size (the manifest-carried file sizes)
    * instead of the session-wide default: a keyed `repartition(col)`
    * always fans out to `spark.sql.shuffle.partitions`, and AQE's
    * coalescing leaves user repartitions at machine parallelism under
    * the default parallelismFirst policy — so every fold/compact/split
    * of a turn-sized (KB-scale) slice would pay a full task wave. One
    * task per ~`graft.admission.stageTargetBytes` (default 32 MB, a
    * healthy post-compression partition), clamped to the session's
    * configured parallelism — large inputs keep exactly the previous
    * fan-out, so this is scale-adaptive, not a local-mode constant.
    */
  private def stagePartitions(spark: SparkSession,
      bytes: Long): Int = {
    val target = spark.conf.getOption("graft.admission.stageTargetBytes")
      .map(_.toLong).getOrElse(32L << 20)
    val max = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(200)
    math.max(1L, math.min(max.toLong,
      (bytes + target - 1) / math.max(1L, target))).toInt
  }

  /** Keep only key rows admitted at or after `suppressSince` — the
    * query-time half of windowed dedup. Rows without a stamp (no
    * `adm_ts` column, or null) FAIL CLOSED: an unknown-age key is
    * treated as in-window, so turning windowing on against rows
    * written before the retention column existed keeps every
    * previously admitted key suppressing (the conservative default —
    * the alternative silently re-admits duplicates of the whole
    * unstamped corpus). Run [[Dedup.stampAdmitted]] once to give such
    * rows a concrete stamp if they should eventually expire.
    */
  private def inWindow(df: DataFrame, suppressSince: Long): DataFrame =
    if (suppressSince <= 0L) df
    else if (!df.columns.contains("adm_ts")) df
    else df.filter(
      coalesce(col("adm_ts"), lit(Long.MaxValue)) >= lit(suppressSince))

  /** One store handle per path, reused across every entry-point
    * dispatch: the handle's [[GenerationLog]] carries the parsed-
    * commit cache (commit files are immutable, so a shared handle is
    * always coherent), and a per-call `new` would re-parse the whole
    * retained manifest history on every operation — the measured
    * scale term in the maintenance turn.
    *
    * LRU-capped: a long-lived driver that creates many short-lived
    * stores (fresh scratch paths per run — exactly what the bench and
    * specs do) must not accrete one cached handle per dead path
    * forever. Evicting a LIVE handle is only a re-parse cost, never a
    * correctness cost: the parsed-commit cache keys on the commit
    * file's (version, mtime, length) identity, so a fresh handle — or
    * a stale one surviving a store delete+recreate — always converges
    * to the on-disk truth.
    */
  private val maxCachedHandles = 64
  private val instances =
    new java.util.LinkedHashMap[String, AdmissionManifestStore](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, AdmissionManifestStore]): Boolean =
        size() > maxCachedHandles
    }

  def apply(storePath: String): AdmissionManifestStore =
    instances.synchronized {
      Option(instances.get(storePath)).getOrElse {
        val s = new AdmissionManifestStore(storePath)
        instances.put(storePath, s)
        s
      }
    }

  /** Spec hook: the number of handles currently retained. */
  private[graft] def cachedHandleCount: Int =
    instances.synchronized(instances.size)

  /** The store at `storePath` for a maintenance or read entry point:
    * Some when its root carries a `_commits` log, None when there is
    * nothing to open (an absent or empty root — every such entry point
    * is then a no-op). A retired listing-layout root is refused.
    */
  def open(spark: SparkSession,
      storePath: String): Option[AdmissionManifestStore] = {
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(storePath, "_commits")))
      Some(apply(storePath))
    else { requireNoListingLayout(fs, storePath); None }
  }

  /** Refuse a root without a commit log that holds the retired listing
    * layout: `adm_kb=` bucket directories, a `tail/` directory, or the
    * root marker files that layout kept (`_`-prefixed — its declared
    * modulus, split map and migration marker, and the `_SUCCESS` of
    * its partitioned fold writes). One root listing, paid only on the
    * paths that find no `_commits`.
    */
  private def requireNoListingLayout(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String): Unit = {
    val legacy = scala.util.Try(
        fs.listStatus(new org.apache.hadoop.fs.Path(storePath)))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      .exists { s =>
        val n = s.getPath.getName
        if (s.isDirectory) n.startsWith("adm_kb=") || n == "tail"
        else n.startsWith("_")
      }
    if (legacy) refuseListingLayout(storePath)
  }

  /** The legacy-store error: the listing layout is retired and cannot
    * be opened or converted in place. The migration is a replay.
    */
  def refuseListingLayout(storePath: String): Nothing =
    throw new UnsupportedOperationException(
      s"admission store at $storePath is in the retired listing layout " +
        "(bucket directories and a tail published by rename, no " +
        "_commits log), which is no longer supported and cannot be " +
        "converted in place. Migrate by replay: admit the store's " +
        "documents into a fresh store path with nearDupFilterBatch / " +
        "embedNearDupFilterBatch.")

  /** Test seam: invoked after an attempt's staging is fully written,
    * immediately before its commit claim (the codes stores' seam) —
    * lets a spec fabricate lost CAS races. No-op in production.
    */
  @volatile private[graft] var beforeCommitFence
      : (String, Long) => Unit = (_, _) => ()
}

/** One manifest file entry: a data file path relative to the store
  * root plus its byte size recorded at staging time (so operational
  * stats never re-ask the filesystem).
  */
private[graft] final case class AdmFile(path: String, size: Long)

/** The ROOT of one committed generation of an admission store: the layout declaration (base buckets, group slicing, the
  * depth map — O(split buckets), collapsed by a rebase), the bounded
  * tail's file list, and one reference per non-empty address group to
  * the immutable group-manifest file carrying that slice's
  * `bucket addr -> [files]` lists. Bucket data paths are shaped
  * `<generation-dir>/adm_kb_p=<addr>/<file>` (the staging layout the
  * writer assigns addresses from); tail files `<t-dir>/<file>`.
  * Every data file carries `adm_kb` as a DATA column — readers never
  * depend on the directory shape (see the store's `stageByAddr`).
  */
private[graft] final case class AdmissionManifest(
    nBuckets: Int,
    nGroups: Int,
    maxDepth: Int,
    depthByAddr: Map[Int, Int],
    tail: Seq[AdmFile],
    groups: Map[Int, String]) {

  def splits: Dedup.AdmissionSplits =
    Dedup.AdmissionSplits(maxDepth, depthByAddr)

  /** The manifest group an address's file list lives in. */
  def gid(addr: Int): Int = addr % nGroups

  def serialize: String = {
    val b = new StringBuilder
    b.append(s"nbuckets $nBuckets\n")
    b.append(s"ngroups $nGroups\n")
    b.append(s"maxdepth $maxDepth\n")
    depthByAddr.toSeq.sorted.foreach { case (a, d) =>
      b.append(s"depth $a $d\n") }
    tail.foreach(f => b.append(s"tail ${f.size} ${f.path}\n"))
    groups.toSeq.sortBy(_._1).foreach { case (g, n) =>
      b.append(s"group $g $n\n") }
    b.result()
  }
}

private[graft] object AdmissionManifest {
  def parse(content: String): Option[AdmissionManifest] = scala.util.Try {
    var nBuckets = -1
    var nGroups = -1
    var maxDepth = 0
    val depths = Map.newBuilder[Int, Int]
    val tail = Seq.newBuilder[AdmFile]
    val groups = Map.newBuilder[Int, String]
    content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
      val parts = line.trim.split("\\s+")
      parts(0) match {
        case "nbuckets" => nBuckets = parts(1).toInt
        case "ngroups" => nGroups = parts(1).toInt
        case "maxdepth" => maxDepth = parts(1).toInt
        case "depth" => depths += (parts(1).toInt -> parts(2).toInt)
        case "tail" => tail += AdmFile(parts(2), parts(1).toLong)
        case "group" => groups += (parts(1).toInt -> parts(2))
        case other => throw new IllegalArgumentException(
          s"unknown admission-manifest keyword: $other")
      }
    }
    require(nBuckets > 0, "manifest missing nbuckets")
    require(nGroups > 0, "manifest missing ngroups")
    // bound the split declaration on read: a damaged manifest with a
    // huge maxdepth would make `nBuckets << maxDepth` overflow into
    // garbage bucket addresses, silently mis-routing probe chains
    require(maxDepth >= 0 && maxDepth <= 30 &&
      (nBuckets.toLong << maxDepth) <= Int.MaxValue.toLong,
      s"manifest maxdepth $maxDepth out of range for base $nBuckets")
    val dm = depths.result()
    require(dm.forall { case (a, d) => a >= 0 && d >= 0 && d <= maxDepth },
      "manifest depth entries out of range")
    val gm = groups.result()
    require(gm.keys.forall(g => g >= 0 && g < nGroups),
      "manifest group ids out of range")
    AdmissionManifest(nBuckets, nGroups, maxDepth, dm, tail.result(), gm)
  }.toOption
}

/** One immutable group-manifest file: the live file lists of the
  * bucket addresses in one `addr % nGroups` slice. Rewritten as a
  * whole (fresh name) whenever any of its addresses mutates; carried
  * forward by reference otherwise.
  */
private[graft] final case class AdmissionGroup(
    buckets: Map[Int, Seq[AdmFile]]) {
  def serialize: String = {
    val b = new StringBuilder
    buckets.toSeq.sortBy(_._1).foreach { case (a, fls) =>
      fls.foreach(f => b.append(s"bucket $a ${f.size} ${f.path}\n")) }
    b.result()
  }
}

private[graft] object AdmissionGroup {
  def parse(content: String): Option[AdmissionGroup] = scala.util.Try {
    val buckets =
      scala.collection.mutable.Map.empty[Int, Vector[AdmFile]]
    content.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
      val parts = line.trim.split("\\s+")
      parts(0) match {
        case "bucket" =>
          val a = parts(1).toInt
          require(a >= 0, s"negative bucket address $a")
          buckets(a) = buckets.getOrElse(a, Vector.empty) :+
            AdmFile(parts(3), parts(2).toLong)
        case other => throw new IllegalArgumentException(
          s"unknown admission-group keyword: $other")
      }
    }
    AdmissionGroup(buckets.view.mapValues(_.toSeq).toMap)
  }.toOption
}
