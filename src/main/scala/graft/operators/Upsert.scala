package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.hadoop.fs.{FileSystem, Path}

/** Keyed upsert (the reference's Delta `MERGE ... WHEN MATCHED UPDATE
  * ALL WHEN NOT MATCHED INSERT ALL`,
  * /root/reference/src/03_gold_realtime_rides.py:104-112) rebuilt on
  * plain parquet.
  *
  * Semantics: `merge(base, updates, keys)` = every key of `updates`
  * takes the updates row; keys only in `base` keep the base row.
  *
  * Scale design (100 TB target):
  *  - The updates side of a streaming micro-batch is small → the
  *    anti-join against its key set broadcasts, so the merge never
  *    shuffles the large base table.
  *  - [[ParquetUpsertSink]] partitions the table by a date column and
  *    rewrites ONLY partitions touched by the batch (partition-pruned
  *    read + dynamic partition overwrite) — rewrite cost is
  *    O(touched partitions), not O(table), matching Delta MERGE's
  *    file-level rewrite granularity. A batch that WIDENS the schema
  *    is the exception: it rewrites the whole table once so the
  *    on-disk schema stays uniform.
  *  - The sink's commit log, idempotence and concurrency contract are
  *    on [[ParquetUpsertSink]].
  */
object Upsert {

  /** Pure merge: rows of `updates` win on key collision.
    *
    * Formulated as `updates ∪ (base anti-join updates-keys)` rather
    * than a full-outer join with per-column coalesce: the two are
    * semantically identical (every updates key takes the whole
    * updates row; base-only keys keep the base row), but Spark cannot
    * broadcast a full-outer join — the hint is silently dropped and
    * the base table gets shuffled. A LEFT ANTI join against the tiny
    * key set broadcasts fine, so the large base side is scanned once
    * with no shuffle.
    *
    * Schema evolution (the reference's `mergeSchema=true`,
    * /root/reference/src/02_silver_realtime_rides.py:114): `updates`
    * may carry a SUPERSET of the base columns — new columns are
    * appended to the schema and null-filled for pre-existing base
    * rows, exactly what Delta's additive schema merge does. Updates
    * missing a base column remain an error (that would silently drop
    * data).
    */
  def merge(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val dropped = base.columns.toSet -- updates.columns.toSet
    require(dropped.isEmpty,
      s"updates must carry every base column; missing: ${dropped.mkString(",")}")
    val added = updates.columns.filterNot(base.columns.contains)
    val widened = added.foldLeft(base)((b, c) =>
      b.withColumn(c, lit(null).cast(updates.schema(c).dataType)))
    val cols = (base.columns ++ added).map(col).toSeq
    val updKeys = broadcast(updates.select(keys.map(col): _*))
    widened.join(updKeys, keys, "left_anti")
      .select(cols: _*)
      .unionByName(updates.select(cols: _*))
  }
}

/** Hands-free OPTIMIZE for [[ParquetUpsertSink]] (the Delta
  * autoCompact analog): after a successful upsert whose new state
  * holds more than `files` small files — in the versioned snapshot, or
  * in any one partition directory of the partitioned layout — the
  * sink immediately compacts ([[ParquetUpsertSink.compact]]) with the
  * given layout spec, so a streaming sink never accumulates
  * micro-batch fragmentation without operator intervention.
  * Compaction rides the normal commit protocol (losing its version
  * race to a concurrent writer just abandons the attempt), so auto
  * mode adds no new failure surface. The four layout fields are
  * [[ParquetUpsertSink.compact]]'s parameters.
  *
  * @param maxBytesPerRun (partitioned layout; the versioned layout
  *   ignores it) byte budget per rewrite round — a pathologically
  *   fragmented table's first hands-free compaction then proceeds in
  *   bounded groups instead of materializing its whole rewrite set in
  *   one shot. None = single round.
  */
final case class AutoCompact(files: Int,
                             targetFileBytes: Long = 128L * 1024 * 1024,
                             clusterBy: Seq[String] = Nil,
                             zorder: Boolean = false,
                             maxBytesPerRun: Option[Long] = None)

/** One commit of [[ParquetUpsertSink]]'s log: the file
  * `_commits/<version>` holding `<batchId> <dataDir> <epochMillis>
  * <op>`.
  *
  *  - `batchId`: the streaming replay high-water mark (sentinel `-1`
  *    writes carry the previous mark forward);
  *  - `dataDir`: the UNIQUELY-NAMED snapshot directory
  *    `v<version>-<uuid>` the version reads (versioned layout), or `-`
  *    (partitioned layout, whose data lives in place). Unique names
  *    are what make racing writers safe: each attempt writes its own
  *    directory, so a loser discards its orphan without ever touching
  *    the winner's data;
  *  - `epochMillis` and `op` (upsert/delete/compact/restore) feed
  *    [[ParquetUpsertSink.history]].
  *
  * Older and foreign writers' shorter forms still parse:
  * `<batchId> <dataDir>`, and a bare `<batchId>` whose data directory
  * is the legacy fixed name `v<version>` (`-` on the partitioned
  * layout). Content whose first token is not a long is torn debris.
  */
private[graft] final case class UpsertCommit(batchId: Long, dataDir: String,
    epochMillis: Option[Long], op: Option[String]) {
  def serialize: String =
    (Seq(batchId.toString, dataDir) ++ epochMillis.map(_.toString) ++ op)
      .mkString(" ")
}

private[graft] object UpsertCommit {
  def now(batchId: Long, dataDir: String, op: String): UpsertCommit =
    UpsertCommit(batchId, dataDir, Some(System.currentTimeMillis()), Some(op))

  /** `bareDir` is the data directory of a bare `<batchId>` commit. */
  def parse(content: String, bareDir: => String): Option[UpsertCommit] =
    scala.util.Try {
      val p = content.trim.split("\\s+")
      UpsertCommit(p(0).toLong, p.lift(1).getOrElse(bareDir),
        p.lift(2).flatMap(t => scala.util.Try(t.toLong).toOption), p.lift(3))
    }.toOption
}

/** File-backed upsert table — the stand-in for the reference's Delta
  * gold table.
  *
  * Commit protocol (the essential slice of a Delta log): the table
  * commits through a [[GenerationLog]] of [[UpsertCommit]]s — the same
  * log the IVF index, the codes stores and the admission store commit
  * through. The current table state is defined by the HIGHEST
  * committed version. Writers fully materialize the new state BEFORE
  * claiming the version, so a crash mid-write leaves the previous
  * version intact and visible — readers never observe a torn table.
  * The newest `retainVersions` versions are retained (snapshots for
  * in-flight readers and time travel); older ones are
  * garbage-collected, reference-counted because [[restore]]
  * re-references an old snapshot.
  *
  *  - `partitionCol = None`: uniquely-named snapshot directories
  *    (`v<version>-<uuid>`, recorded in the commit), whole-table
  *    snapshot per commit — right for small/medium aggregate tables,
  *    and safe under concurrent writers (see Concurrency below).
  *  - `partitionCol = Some(c)`: data lives partitioned in place and
  *    merges rewrite only touched partitions (dynamic partition
  *    overwrite, passed as a write option so the caller's session
  *    conf is never touched). Every in-place write — upsert, delete,
  *    compact, restore — ends in one tail ([[commitInPlace]]): each
  *    touched directory that still holds data gets fresh indexes, one
  *    left empty is dropped. Every commit keeps the files it
  *    replaces, frozen under `_history/v<version>/` by metadata-only
  *    renames, with a per-commit add/remove actions record
  *    ([[PartitionedHistory]], a write-ahead record keyed by the
  *    commit version) — so the in-place layout has the versioned
  *    layout's whole capability set: time travel ([[readVersion]]),
  *    change feed ([[changeFeed]]), restore, and TABLE-granularity
  *    crash atomicity (a torn multi-partition batch is rolled back to
  *    the last commit, never left partially applied). Cost per commit:
  *    O(touched files) renames and one small JSON record — never a
  *    byte copied; history bytes are bounded by the replaced data of
  *    the retained commits and reclaimed by the same GC. Plain
  *    `spark.read.parquet(path)` still works: `_history` is
  *    underscore-hidden.
  *
  * Idempotence per micro-batch: each commit records its batchId;
  * replays are skipped, preserving exactly-once on restart.
  *
  * Concurrency: version claims are ATOMIC compare-and-swap
  * ([[AtomicClaim]], the same primitive Delta's HDFS LogStore uses) —
  * exactly one concurrent writer wins each version. The versioned
  * layout is fully multi-writer: a loser discards its orphan snapshot,
  * re-merges against the winner's state, and retries the next version
  * ([[GenerationLog.commitWithRetry]]). The partitioned layout
  * rewrites data files IN PLACE, where optimistic retry is UNSOUND —
  * writer A can overwrite a shared partition between writer B's
  * overwrite and B's claim, so even a writer that WINS its claim may
  * have had its partitions clobbered, and the loser's retry re-merges
  * against a base that already lost them. Partitioned writers are
  * therefore serialized through an exclusive writer-lock file (mutual
  * exclusion, the only sound multi-writer contract for in-place
  * rewrites) and claim once; the failed-claim
  * ConcurrentModificationException remains the backstop against
  * external writers that bypass the lock.
  *
  * @param retainVersions how many committed versions (snapshot dirs +
  *   commit files) GC keeps, newest first. 2 is the single-writer
  *   minimum (one spare for readers started before the last commit);
  *   raise it under writer contention — a loser's lazily-scanned
  *   merge base survives `retainVersions - 1` further commits, and
  *   for time travel ([[readVersion]]).
  * @param autoCompact hands-free compaction after each upsert, see
  *   [[AutoCompact]].
  * @param bloomCols columns to maintain per-file bloom filters for
  *   (the Delta bloom-index analog, [[FileSkipping.writeBlooms]]):
  *   every commit path that writes a stats manifest also builds
  *   blooms over these columns, and [[scan]]'s pruner consults them
  *   on equality predicates — the channel that prunes point lookups
  *   on HIGH-CARDINALITY keys where min/max cannot (every file's
  *   range spans the keyspace unless the table is clustered on
  *   exactly that key). Pick them per table like Delta does: the
  *   lookup keys, not everything.
  */
class ParquetUpsertSink(path: String, keys: Seq[String],
                        partitionCol: Option[String] = None,
                        retainVersions: Int = 2,
                        autoCompact: Option[AutoCompact] = None,
                        bloomCols: Seq[String] = Nil) {
  import ParquetUpsertSink.{FileSelection, ListedDir}

  require(retainVersions >= 2,
    s"retainVersions must be >= 2 (got $retainVersions): the previous " +
      "version must survive for in-flight readers")
  require(autoCompact.forall(_.files > 0),
    "autoCompact.files must be positive")
  require(autoCompact.forall(_.maxBytesPerRun.forall(_ > 0)),
    "autoCompact.maxBytesPerRun must be positive")

  /** The table's filesystem under the SESSION's Hadoop conf, so
    * filesystem keys set on the session (the medallion chain's
    * fork-free local filesystem) reach the sink's own metadata I/O.
    */
  private def fs(spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def commitsDir = new Path(path, "_commits")

  /** The commit log. A versioned commit references its snapshot
    * directory (reference-counted GC); a dropped history commit takes
    * its frozen files, stage dirs and actions/intent records along.
    */
  private val log = new GenerationLog[UpsertCommit](path,
    (v, s) => UpsertCommit.parse(s,
      if (partitionCol.isEmpty) s"v$v" else "-"),
    _.serialize,
    (_, c) => if (partitionCol.isEmpty) Seq(c.dataDir) else Nil,
    retainVersions,
    (spark, v) => if (partitionCol.nonEmpty)
      PartitionedHistory.gcVersion(fs(spark), new Path(path), commitsDir, v))

  private type Commits = Seq[(Long, UpsertCommit)]

  /** Next version to claim after `cs`. */
  private def nextVersion(cs: Commits): Long =
    cs.lastOption.map(_._1).getOrElse(-1L) + 1

  /** The replay high-water mark: the largest batchId any retained
    * commit records (-1: none). The max over ALL retained commits,
    * not the head's, so an interleaved sentinel (-1) commit can never
    * lower it.
    */
  private def lastStreamBatch(cs: Commits): Long =
    cs.iterator.map(_._2.batchId).foldLeft(-1L)(math.max)

  /** Whether streaming batch `batchId` is already committed — a
    * crash-redelivered micro-batch (sentinel -1 never is).
    */
  private def alreadyApplied(batchId: Long, cs: Commits): Boolean =
    batchId >= 0 && batchId <= lastStreamBatch(cs)

  /** The batchId a new commit records: a sentinel write carries the
    * high-water mark forward, so GC of the commits that established it
    * cannot resurrect replay of a seen batch.
    */
  private def recorded(batchId: Long, cs: Commits): Long =
    if (batchId >= 0) batchId else lastStreamBatch(cs)

  /** Retained commit `version` of `cs`, or the not-available error. */
  private def committed(cs: Commits, version: Long): UpsertCommit =
    cs.find(_._1 == version).map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"version $version of $path is not available (GC retains the " +
          s"newest $retainVersions; present: " +
          s"${cs.map(_._1).mkString(",")})"))

  /** Snapshot directory of the head version (versioned layout). */
  private def headDir(spark: SparkSession): Option[String] =
    log.resolveLatest(spark).map(_._2.dataDir)

  def currentVersion(spark: SparkSession): Long =
    log.resolveLatest(spark).map(_._1).getOrElse(-1L)

  def lastBatchId(spark: SparkSession): Long =
    log.resolveLatest(spark).map(_._2.batchId).getOrElse(-1L)

  def exists(spark: SparkSession): Boolean = currentVersion(spark) >= 0

  /** Data present at the table path that predates this sink's commit
    * log — an externally-written table being adopted. Must be merged
    * into, never clobbered, on the first commit.
    */
  private def hasExternalData(spark: SparkSession): Boolean = {
    val f = fs(spark)
    f.exists(new Path(path)) && f.listStatus(new Path(path)).exists { s =>
      s.getPath.getName.endsWith(".parquet") ||
        (s.isDirectory && s.getPath.getName.contains("="))
    }
  }

  /** Predicate-pruned read: consult the per-file stats manifests
    * ([[FileSkipping]], written atomically with each commit) and
    * enumerate ONLY files whose min/max/null stats admit a matching
    * row, then apply the predicate to the survivors. Semantically
    * identical to `read(spark).filter(pred)`; at 100 TB the difference
    * is that pruned files cost zero scheduled tasks, zero opens, zero
    * footer fetches — with a [[compact]] `clusterBy`/`zorder` layout a
    * point/range query touches O(matching) files instead of O(table).
    * On the partitioned layout the partition value prunes whole
    * directories through the same stats. Both layouts decide in
    * [[selectFiles]]; files without trustworthy stats are kept.
    */
  def scan(spark: SparkSession, predicate: org.apache.spark.sql.Column)
      : DataFrame = prunedRead(spark, predicate)

  private def emptyLike(spark: SparkSession,
                        schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The predicate as the optimizer sees it over `df` — resolved,
    * literal casts folded, unsatisfiable conditions collapsed.
    */
  private sealed trait EffPred
  private case object PredEmpty extends EffPred   // provably no rows
  private case object PredUnknown extends EffPred // no Filter derivable
  private final case class PredCond(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
    extends EffPred

  private def effectivePredicate(df: DataFrame,
      predicate: org.apache.spark.sql.Column): EffPred = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, LocalRelation}
    val plan = df.filter(predicate).queryExecution.optimizedPlan
    if (plan.collectFirst {
        case l: LocalRelation if l.data.isEmpty => l }.isDefined)
      PredEmpty
    else plan.collect { case f: LFilter => f.condition }
      .reduceOption(org.apache.spark.sql.catalyst.expressions.And)
      .map(PredCond.apply).getOrElse(PredUnknown)
  }

  /** The one file-pruning decision behind [[scan]], [[scanVersion]],
    * [[scanForJoin]], [[scanFileCounts]], [[countRows]] and
    * [[columnBounds]] on both layouts: `kept` of the `total` live
    * files, as paths relative to `root` — the snapshot directory
    * (versioned) or the table path (partitioned) — plus every file's
    * manifest `stats` when each directory's manifest is fresh. A
    * versioned snapshot is a table of one directory with no partition
    * value.
    *
    *  1. The candidate directories are listed once. None (decline, the
    *     caller falls back to `read`) without a committed version or a
    *     partition directory, and while a history intent is pending: a
    *     crashed writer's torn directories make the live listing and
    *     its manifests untrustworthy, and `read` routes around them.
    *  2. A manifest is trusted only when its file names exactly match
    *     its directory's listing — overwrites write fresh unique names,
    *     so a manifest left behind by a pre-stats writer (or clobbered
    *     by one) self-invalidates into 1-row surrogates, which prune by
    *     nothing but the partition value.
    *  3. The partition value parsed from a directory name becomes
    *     pseudo min=max stats ([[FileSkipping.partitionColStats]]), so
    *     one pruner does partition pruning and data-column skipping.
    *  4. Files are pruned by stats; the survivors are refined by blooms,
    *     then by the join-key window ([[FileSkipping.mayHoldAnyKey]]).
    *
    * `predicate = None` prunes nothing (the metadata-only answers).
    * Otherwise the predicate is taken from the OPTIMIZED plan over one
    * sample file ([[effectivePredicate]]): a provably unsatisfiable one
    * keeps no file, and one with no Filter left keeps every file. `join =
    * Some((joinKey, keys))` adds the key check, with the keys typed
    * from that same sample schema; keys of a type without a stats
    * representation prune nothing.
    */
  private[graft] def selectFiles(spark: SparkSession,
      predicate: Option[org.apache.spark.sql.Column],
      version: Option[Long] = None,
      join: Option[(String, Seq[Any])] = None): Option[FileSelection] = {
    val f = fs(spark)
    val (root, dirs) = partitionCol match {
      case None =>
        val dir = version.map(committed(log.commits(spark), _).dataDir)
          .orElse(headDir(spark)).getOrElse(return None)
        (s"$path/$dir", Seq((new Path(s"$path/$dir"), "", None)))
      case Some(pc) =>
        if (pendingHistory(spark, f).nonEmpty) return None
        val names = PartitionedHistory.partitionDirs(f, new Path(path), pc)
        if (names.isEmpty) return None
        (path, names.map(d => (new Path(path, d), s"$d/",
          Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(d.drop(pc.length + 1))))))
    }
    val listed = dirs.map { case (dir, prefix, value) =>
      val names = PartitionedHistory.parquetFiles(f, dir).map(_.getPath.getName)
      ListedDir(dir, prefix, value, names, FileSkipping.readStats(f, dir)
        .filter(_.map(_.file).toSet == names.toSet))
    }
    val total = listed.map(_.files.size).sum
    val stats =
      if (listed.exists(_.manifest.isEmpty)) None
      else Some(listed.flatMap(_.manifest.get))
    val all = listed.flatMap(l => l.files.map(l.prefix + _))
    val pred = predicate.getOrElse(
      return Some(FileSelection(root, all, total, stats, None)))
    // predicate resolution and key typing use ONE sample file: a
    // whole-table read would make Spark re-list every file (and, on
    // the partitioned layout, merge every footer) — O(files) driver
    // work the pruning exists to avoid. Post-widening narrow files can
    // fail that resolution; the full read is the rare-path fallback.
    val sample = listed.collectFirst {
      case l if l.files.nonEmpty => s"$root/${l.prefix}${l.files.head}"
    }.getOrElse(return Some(FileSelection(root, all, total, stats, None)))
    val sampled = scala.util.Try(
      spark.read.option("basePath", root).parquet(sample)).toOption
    val schemaDf = sampled.getOrElse(read(spark))
    // a versioned snapshot is one write's output, so the sample's
    // schema is every kept file's; partition dirs may differ (widening)
    val uniform = if (partitionCol.isEmpty) sampled.map(_.schema) else None
    def selection(kept: Seq[String]) =
      Some(FileSelection(root, kept, total, stats, uniform))
    if (!partitionCol.forall(schemaDf.columns.contains)) return None
    val keys = join.flatMap { case (jk, values) =>
      scala.util.Try(schemaDf.schema(jk).dataType).toOption
        .flatMap(FileSkipping.keySValues(_, values)).map((jk, _))
    }
    val cond = scala.util.Try(effectivePredicate(schemaDf, pred))
      .orElse(scala.util.Try(effectivePredicate(read(spark), pred)))
      .getOrElse(PredUnknown) match {
      case PredEmpty => return selection(Nil)
      case PredUnknown if keys.isEmpty => return selection(all)
      case PredUnknown => None
      case PredCond(c) => Some(c)
    }
    val pcType = partitionCol.map(pc => (pc, schemaDf.schema(pc).dataType))
    selection(listed.flatMap { l =>
      val files = l.manifest.getOrElse(
        l.files.map(n => FileSkipping.FileStat(n, 1L, Map.empty)))
      val enriched = (pcType, l.partValue) match {
        case (Some((pc, dt)), Some(raw)) => files.map(st =>
          FileSkipping.partitionColStats(dt, raw, st.rows)
            .fold(st)(p => st.copy(cols = st.cols + (pc -> p))))
        case _ => files
      }
      val statsKept =
        cond.fold(enriched)(c => enriched.filter(FileSkipping.mayMatch(c, _)))
      // decoded lazily, per surviving file; blooms need no freshness
      // guard — a stale entry never matches a uniquely-named live file
      lazy val blooms = FileSkipping.readBlooms(f, l.dir).filterNot(_.isEmpty)
      val bloomKept = cond match {
        case Some(c) if statsKept.nonEmpty => blooms.fold(statsKept)(bi =>
          statsKept.filter(st =>
            FileSkipping.mayMatch(c, st, bi.forFile(st.file))))
        case _ => statsKept
      }
      val keyKept = keys.fold(bloomKept) { case (jk, (kind, sorted)) =>
        bloomKept.filter(st => FileSkipping.mayHoldAnyKey(st, jk, kind,
          sorted, blooms.flatMap(_.forFileCol(st.file, jk))))
      }
      keyKept.map(l.prefix + _.file)
    })
  }

  /** The one pruned read: the [[selectFiles]] decision's kept files
    * under `predicate` — the whole table version when nothing was
    * pruned, an empty frame of its schema when everything was, and
    * `read` + filter when the selection declined. A versioned read
    * takes the schema the selection resolved, so it runs no inference
    * job of its own.
    */
  private def prunedRead(spark: SparkSession,
      predicate: org.apache.spark.sql.Column,
      version: Option[Long] = None,
      join: Option[(String, Seq[Any])] = None): DataFrame =
    selectFiles(spark, Some(predicate), version, join) match {
      case None => read(spark).filter(predicate)
      case Some(s) =>
        // partitioned: mergeSchema as in `read`; basePath keeps the
        // partition column derivable from the kept leaf-file paths
        val reader = partitionCol.fold(
          s.schema.fold(spark.read)(spark.read.schema))(_ =>
          spark.read.option("mergeSchema", "true"))
        if (s.kept.size == s.total) reader.parquet(s.root).filter(predicate)
        else if (s.kept.isEmpty)
          emptyLike(spark, s.schema.getOrElse(reader.parquet(s.root).schema))
        else reader.option("basePath", s.root)
          .parquet(s.kept.map(k => s"${s.root}/$k"): _*)
          .filter(predicate)
    }

  /** DYNAMIC FILE PRUNING for a selective equi-join (the Delta/Photon
    * DFP analog): prune this table's FILES by the build side's join
    * keys BEFORE any task is scheduled, then return the row-level
    * semi-join-reduced probe side — semantically
    * `scan(predicate)` ∩ (`joinKey` ∈ `buildKeys`), so an inner
    * equi-join over the result is unchanged while the fact scan
    * touches O(matching files). At 100 TB this is the difference
    * between scanning 3 files and 800k for a star join whose dim-side
    * filter is selective: min/max windows answer in O(log |keys|) per
    * file (a sorted-key binary search, never a per-key sweep), and a
    * [[bloomCols]] index on the join key refines the few in-window
    * keys per file. On the partitioned layout the partition-value
    * pseudo-stats mean a join ON the partition column prunes whole
    * directories.
    *
    * `buildKeys` must be a single-column frame of join values (any
    * column name); it is collected DISTINCT to the driver, gated by
    * `maxKeys` — above the gate (or for key types without a stats
    * representation) the method degrades to the ordinary pruned scan
    * plus a row-level semi-join, still correct, just not file-pruned
    * by keys. Row-level reduction uses an IN-list for small key sets
    * (codegen'd set probe), a broadcast left-semi join up to the gate
    * (a 2M-literal plan would bloat serialization), and a shuffle-hash
    * left-semi join past it: a build side known to exceed `maxKeys`
    * distinct keys is never broadcast.
    */
  def scanForJoin(spark: SparkSession, joinKey: String,
                  buildKeys: DataFrame,
                  predicate: org.apache.spark.sql.Column = lit(true),
                  maxKeys: Int = 2000000): DataFrame = {
    require(buildKeys.columns.length == 1,
      s"buildKeys must have exactly one column, got " +
        buildKeys.columns.mkString(","))
    val bk = buildKeys.columns.head
    val distinctKeys = buildKeys.filter(col(bk).isNotNull).distinct()
      .withColumnRenamed(bk, joinKey)
    val collected: Array[Any] =
      distinctKeys.limit(maxKeys + 1).collect().map(_.get(0))
    if (collected.length > maxKeys) // build side too large
      scan(spark, predicate)
        .join(distinctKeys.hint("shuffle_hash"), Seq(joinKey), "left_semi")
    else {
      val pruned = prunedRead(spark, predicate,
        join = Some((joinKey, collected.toSeq)))
      if (collected.length <= 10000)
        pruned.filter(col(joinKey).isInCollection(collected.toSeq))
      else pruned.join(broadcast(distinctKeys), Seq(joinKey), "left_semi")
    }
  }

  /** [[scan]] against a RETAINED historical version. Versioned
    * layout: time travel and data skipping compose for free — each
    * snapshot directory carries its own stats manifest, so a point
    * lookup into last night's version prunes exactly like one into
    * today's. Partitioned layout: [[readVersion]] filtered, unpruned
    * (the stats manifests describe the live files only).
    */
  def scanVersion(spark: SparkSession, version: Long,
                  predicate: org.apache.spark.sql.Column): DataFrame =
    if (partitionCol.isEmpty) prunedRead(spark, predicate, Some(version))
    else readVersion(spark, version).filter(predicate)

  /** (files kept, total files) [[scan]]'s pruning decision admits for
    * `predicate` on the CURRENT version — skip-ratio telemetry (the
    * at-scale figure of merit: every pruned file is a task, an open,
    * and a footer fetch that never happens). (0, 0) when the decision
    * declines ([[selectFiles]]).
    */
  def scanFileCounts(spark: SparkSession,
                     predicate: org.apache.spark.sql.Column): (Int, Int) =
    selectFiles(spark, Some(predicate))
      .fold((0, 0))(s => (s.kept.size, s.total))

  /** Metadata-only row count of the current state: the sum of per-file
    * row counts the commit-time stats manifests already hold — zero
    * tasks, zero file opens, the `SELECT COUNT(*)` a 100 TB table
    * answers from its log. None unless every directory's manifest is
    * fresh (its file names match the live listing); one stale or
    * absent manifest makes the answer None rather than wrong — callers
    * fall back to `read(spark).count()`.
    */
  def countRows(spark: SparkSession): Option[Long] =
    selectFiles(spark, None).flatMap(_.stats).map(_.map(_.rows).sum)

  /** Metadata-only global [min, max] of data column `column` on the
    * current state — the MIN/MAX a 100 TB table answers from its log:
    * the fold of the manifests' per-file bounds, zero tasks. None
    * when any manifest is stale or absent (the [[countRows]] rule), the
    * column is unindexed or is the partition column (it lives in
    * directory names, not footers), any file's bounds are unknown
    * (unknown files could hold the true extremum), or every file is
    * all-null. Values come back in the manifest's representation: Long
    * for integral columns, Double, String, Boolean, days-since-epoch
    * Long for dates, micros Long for timestamps.
    */
  def columnBounds(spark: SparkSession, column: String)
      : Option[(Any, Any)] =
    if (partitionCol.contains(column)) None
    else selectFiles(spark, None).flatMap(_.stats)
      .flatMap(FileSkipping.globalBounds(_, column))

  /** The versioned layout's snapshot at `dir`, or — before the first
    * commit — the pre-sink external data at the table root.
    */
  private def snapshotAt(spark: SparkSession, dir: Option[String]): DataFrame =
    spark.read.parquet(dir.fold(path)(d => s"$path/$d"))

  def read(spark: SparkSession): DataFrame = partitionCol match {
    case None => snapshotAt(spark, headDir(spark))
    case Some(pc) =>
      // mergeSchema: after (or mid-crash during) a schema-widening
      // upsert, partitions may carry different footer schemas — without
      // it, whether the evolved column appears depends on which footer
      // Spark samples (nondeterministic reads). Footer-only cost,
      // proportional to file count, not bytes. _commits is _-hidden.
      val f = fs(spark)
      if (pendingHistory(spark, f).isEmpty)
        spark.read.option("mergeSchema", "true").parquet(path)
      else
        // a writer died mid-commit and no locked write has run since:
        // route around the torn directories through the frozen
        // originals — readers see the last COMMITTED state, mutating
        // nothing (recovery proper runs under the writer lock)
        readFileMap(spark, PartitionedHistory.consistentLive(f,
          new Path(path), commitsDir, pc, log.commits(spark).map(_._1).toSet))
  }

  /** Versions with a pending (uncommitted) history intent — nonempty
    * only between a writer crash and the next locked write's recovery.
    */
  private def pendingHistory(spark: SparkSession, f: FileSystem): Seq[Long] =
    PartitionedHistory.pendingVersions(f, commitsDir,
      log.commits(spark).map(_._1).toSet)

  /** Roll back incomplete history commits (writer died between intent
    * and commit claim) — runs at the start of every locked write, so
    * the table a writer merges against is always the last committed
    * state, whatever happened to its predecessor.
    */
  private def recoverIncomplete(spark: SparkSession, f: FileSystem): Unit =
    pendingHistory(spark, f).foreach { v =>
      finishDirs(spark, f,
        PartitionedHistory.rollback(f, new Path(path), commitsDir, v))
    }

  /** Heal a table whose last writer died mid-commit without waiting
    * for the next write: takes the writer lock (recovery runs on
    * acquisition) and releases it. No-op when nothing is pending, and
    * on the versioned layout (whose torn writes are never visible).
    */
  def recoverIncompleteCommit(spark: SparkSession): Unit =
    if (partitionCol.nonEmpty) withWriterLock(spark)(())

  /** Read a resolved file map (relpath → location under `path`): live
    * files with basePath at the table root; frozen files grouped per
    * `_history/v<w>` with basePath below the underscore segment, so
    * partition values still derive from the mirrored directory
    * structure. Groups union by name with missing-column fill — a
    * version gap that widened the schema reads back null-filled,
    * the change feed's convention.
    */
  private def readFileMap(spark: SparkSession,
                          files: Map[String, String]): DataFrame = {
    if (files.isEmpty) {
      val schema = scala.util.Try(
        spark.read.option("mergeSchema", "true").parquet(path).schema)
      return schema.map(emptyLike(spark, _)).getOrElse(spark.emptyDataFrame)
    }
    val groups = files.values.toSeq.groupBy { sub =>
      if (sub.startsWith(PartitionedHistory.historyDirName + "/"))
        sub.split('/').take(2).mkString("/") // "_history/v<w>"
      else ""
    }
    groups.toSeq.sortBy(_._1).map { case (g, subs) =>
      val bp = if (g.isEmpty) path else s"$path/$g"
      spark.read.option("mergeSchema", "true").option("basePath", bp)
        .parquet(subs.sorted.map(s => s"$path/$s"): _*)
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Escaped partition-directory name for one value of `pc` (the
    * writer's own path rendering, so lookups by name always agree
    * with what's on disk).
    */
  private def partDirName(pc: String, v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(pc, v)

  /** Time travel (the Delta `versionAsOf` analog): read the table as
    * of a specific committed version. Only the newest `retainVersions`
    * commits are readable — older snapshots/history are GC'd.
    *
    * Versioned layout: the commit's immutable snapshot directory.
    * Partitioned layout: backward replay of the per-commit add/remove
    * actions from the consistent current listing — each replaced file
    * reads from its frozen home under `_history/v<w>/`
    * ([[PartitionedHistory.liveAt]]). Metadata cost O(live files +
    * retained deltas); no data is ever copied to travel.
    */
  def readVersion(spark: SparkSession, version: Long): DataFrame =
    partitionCol match {
      case None => snapshotAt(spark,
        Some(committed(log.commits(spark), version).dataDir))
      case Some(pc) =>
        val cs = log.commits(spark)
        committed(cs, version)
        readFileMap(spark, fileMapAt(spark, pc, cs)(version))
    }

  /** History layout: the file map (relpath → location under `path`)
    * of each retained version of `cs`, by backward replay of the
    * actions records from the consistent current listing
    * ([[PartitionedHistory.liveAt]]).
    */
  private def fileMapAt(spark: SparkSession, pc: String, cs: Commits)
      : Long => Map[String, String] = {
    val f = fs(spark)
    val current = PartitionedHistory.consistentLive(f, new Path(path),
      commitsDir, pc, cs.map(_._1).toSet)
    v => if (v == cs.last._1) current
      else PartitionedHistory.liveAt(f, new Path(path), commitsDir, v,
        cs.map(_._1).sorted.reverse, current)
  }

  /** Rows of version `to` that are NEW or CHANGED since version
    * `from` — the additive half of the change-data feed. This is what
    * keeps repeated curation affordable: a nightly quality/dedup/
    * scoring pass consumes `changesBetween(prev, current)` — typically
    * orders of magnitude smaller than the table — instead of
    * rescanning 100 TB. Rows RETRACTED between the versions (via
    * [[delete]] or an external writer) do NOT appear here; consumers
    * that must propagate deletes read [[changeFeed]] instead.
    *
    * Shape at scale: one hash-shuffle of 32-byte row fingerprints
    * (same as exact dedup) — an anti-join of the new snapshot's
    * fingerprints against the old's. The fingerprint covers the FULL
    * row (sorted-column `to_json` → sha2), so value updates surface
    * even when keys match; fingerprint equality means the row is
    * byte-identical and safely skipped.
    */
  def changesBetween(spark: SparkSession, from: Long, to: Long): DataFrame = {
    require(from <= to, s"from ($from) must be <= to ($to)")
    val (newerDf, olderDf) = deltaFrames(spark, from, to).getOrElse(
      (readVersion(spark, to), readVersion(spark, from)))
    val newer = fingerprinted(newerDf)
    val older = fingerprinted(olderDf).select(col("_fp"))
    newer.join(older, Seq("_fp"), "left_anti").drop("_fp")
  }

  /** Full row fingerprint (sorted-column to_json → sha2): equality
    * means the row is byte-identical across versions.
    */
  private def fingerprinted(df: DataFrame): DataFrame = df.withColumn("_fp",
    sha2(to_json(struct(df.columns.sorted.map(col): _*)), 256))

  /** The complete change-data feed between two committed versions —
    * the Delta CDF analog (`readChangeFeed` over the reference's MERGE
    * sink, 03_gold_realtime_rides.py:104-112). Rows carry a
    * `_change_type` column:
    *
    *  - `insert`            — key absent at `from`, present at `to`
    *  - `update_postimage`  — key present at both, any column changed
    *    (the new row image)
    *  - `delete`            — key present at `from`, absent at `to`
    *    (the old row image — what a downstream consumer must retract)
    *
    * Unlike [[changesBetween]] (new/changed rows only), this feed lets
    * an incremental consumer ALSO drop rows retracted upstream — via a
    * key anti-join of its state against the `delete` slice — instead
    * of detecting disappearance only by full recompute.
    *
    * Shape at scale: the same single fingerprint hash-shuffle as
    * `changesBetween`, one key-presence join to split inserts from
    * updates, and one reverse key anti-join for deletes — all keyed
    * shuffles of the (small) delta plus one pass over each snapshot;
    * never a cross product, never a driver collect. Schema evolution:
    * a version gap that widened the schema yields `delete` rows with
    * the new columns null-filled (`unionByName` with missing-column
    * fill), so the feed's schema is always the NEWER snapshot's.
    */
  def changeFeed(spark: SparkSession, from: Long, to: Long): DataFrame =
    changeFeed(spark, from, to, withPreimages = false)

  /** As [[changeFeed]]; `withPreimages = true` additionally emits
    * `update_preimage` rows (the OLD image of every updated key —
    * Delta CDF's fourth change type). Pre-images are what let a
    * downstream incremental AGGREGATE retract an updated row's old
    * contribution exactly ([[IncrementalAgg]]): without them, an
    * update is indistinguishable from an insert to a sum. One extra
    * keyed semi-join of the old snapshot against the changed keys —
    * still delta-sized, never a second table scan.
    */
  def changeFeed(spark: SparkSession, from: Long, to: Long,
                 withPreimages: Boolean): DataFrame = {
    require(from <= to, s"from ($from) must be <= to ($to)")
    val (newer, older) = deltaFrames(spark, from, to).getOrElse(
      (readVersion(spark, to), readVersion(spark, from)))
    changeFeedBetween(newer, older, withPreimages)
  }

  /** DELTA-PROPORTIONAL feed inputs for the partitioned layout: the
    * files live at `to` but not at `from`, and vice versa,
    * straight from the per-commit add/remove algebra
    * ([[PartitionedHistory.liveAt]]). The layout's rewrite granularity
    * is whole partition directories — any row whose key persists
    * through a rewrite of its directory appears in a removed file (old
    * image) AND an added file (new image), while rows of untouched
    * files are byte-identical at both versions — so the fingerprint
    * anti-join and key classifications over just the differing files
    * equal the full-snapshot computation. At 100 TB that turns CDC
    * over a commit that touched 2 directories from two full table
    * scans into a read of exactly those directories' old and new
    * files. None (→ full-snapshot diff) on the versioned layout, and
    * for `from == to`. A version that is not retained, or one the
    * actions records cannot reach (GC'd, or committed without history
    * by an older writer), fails loudly here.
    */
  private def deltaFrames(spark: SparkSession, from: Long,
                          to: Long): Option[(DataFrame, DataFrame)] =
    partitionCol match {
      case Some(pc) if from < to =>
        val cs = log.commits(spark)
        committed(cs, to); committed(cs, from)
        val at = fileMapAt(spark, pc, cs)
        val atTo = at(to)
        val atFrom = at(from)
        Some((readFileMap(spark,
           atTo.filter { case (rel, _) => !atFrom.contains(rel) }),
         readFileMap(spark,
           atFrom.filter { case (rel, _) => !atTo.contains(rel) })))
      case _ => None
    }

  /** The feed computation proper, over the two versions' differing
    * rows ([[deltaFrames]]) or full snapshots (fallback).
    */
  private def changeFeedBetween(newer: DataFrame, older: DataFrame,
                                withPreimages: Boolean): DataFrame = {
    val changed = fingerprinted(newer)
      .join(fingerprinted(older).select(col("_fp")), Seq("_fp"), "left_anti")
      .drop("_fp")
    val oldKeys = older.select(keys.map(col): _*)
      .withColumn("_in_old", lit(1))
    val upserts = changed.join(oldKeys, keys, "left_outer")
      .withColumn("_change_type",
        when(col("_in_old").isNull, lit("insert"))
          .otherwise(lit("update_postimage")))
      .drop("_in_old")
    val deletes = older
      .join(newer.select(keys.map(col): _*), keys, "left_anti")
      .withColumn("_change_type", lit("delete"))
    val base = upserts.unionByName(deletes, allowMissingColumns = true)
    if (!withPreimages) base
    else {
      val updatedKeys = upserts
        .filter(col("_change_type") === "update_postimage")
        .select(keys.map(col): _*)
      val preimages = older.join(updatedKeys, keys, "left_semi")
        .withColumn("_change_type", lit("update_preimage"))
      val all = base.unionByName(preimages, allowMissingColumns = true)
      // Stamp the feed as pre-image-complete IN THE SCHEMA (column
      // metadata on _change_type, which survives select/filter/
      // withColumn, localCheckpoint, and a parquet round-trip). An
      // incremental-aggregate consumer ([[IncrementalAgg]]) REQUIRES
      // this marker: a feed from the two-arg overload passes a bare
      // `_change_type`-exists check yet silently inflates sums —
      // update post-images add with no matching retraction — so the
      // feed must be self-describing, not merely well-shaped.
      all.withColumn("_change_type", col("_change_type")
        .as("_change_type", ParquetUpsertSink.preimagesMetadata))
    }
  }

  /** Unique snapshot-directory name for one commit attempt. */
  private def newDataDir(version: Long): String = s"v$version-${log.uid}"

  private def lostClaim(version: Long, op: String, hint: String) =
    new java.util.ConcurrentModificationException(
      s"concurrent writer claimed version $version of $path during $op; " +
        hint)

  /** The partitioned layout's one commit sequence for `version` (see
    * [[PartitionedHistory]]); the caller holds the writer lock: the
    * write-ahead intent over the `touched` directories and every file
    * they hold, the freeze of `frozen` (default: all of those files)
    * under `_history/v<version>/`, `write`, the finish of every touched
    * directory ([[finishDirs]]), the actions record (`adds`, default
    * the touched directories' files after the write; removes, the
    * frozen files), the claim, and the intent's removal. A
    * lock-honouring writer cannot lose the claim, so a loss means one
    * bypassed the lock — and an in-place rewrite cannot be rolled back,
    * only surfaced.
    */
  private def commitInPlace(spark: SparkSession, version: Long,
      c: UpsertCommit, touched: Seq[String],
      frozen: Option[Seq[String]] = None,
      adds: Option[Seq[String]] = None)(write: => Unit): Unit = {
    val f = fs(spark)
    val root = new Path(path)
    val originals = PartitionedHistory.listDirFiles(f, root, touched)
    PartitionedHistory.writeIntent(f, commitsDir, version,
      PartitionedHistory.Intent(touched, originals))
    val moved = frozen.getOrElse(originals)
    PartitionedHistory.moveToHistory(f, root, version, moved)
    betweenHistoryMoveAndWrite(version)
    write
    finishDirs(spark, f, touched)
    PartitionedHistory.writeActions(f, commitsDir, version,
      PartitionedHistory.Actions(
        adds.getOrElse(PartitionedHistory.listDirFiles(f, root, touched)),
        moved))
    beforeCommit(version)
    if (!log.commitOnce(spark, version, c))
      throw lostClaim(version, c.op.getOrElse("commit"),
        "in-place rewrites cannot be rolled back — route all writers " +
          "through the sink's writer lock")
    // the write-ahead record has served its term
    f.delete(PartitionedHistory.intentPath(commitsDir, version), false)
  }

  /** Write `data` as the versioned layout's new snapshot `dataDir`,
    * with its footer stats (and blooms, if configured) INSIDE the
    * directory, so they publish atomically with the version's claim
    * and power [[scan]]'s file pruning. A merge base GC'd from under
    * the lazy scan by concurrent writers (retain-2 keeps one spare, so
    * this takes TWO commits during one merge) is a lost race, not a
    * failure: the head has already advanced past `version`, so the
    * claim that follows loses, the partial directory is dropped, and
    * the retry re-merges against the fresh head.
    */
  private def writeSnapshot(spark: SparkSession, version: Long,
                            dataDir: String, data: DataFrame): Unit =
    try {
      data.write.mode("overwrite").parquet(s"$path/$dataDir")
      writeIndexes(spark, new Path(s"$path/$dataDir"))
    } catch {
      case e: Throwable if fnfInChain(e) && currentVersion(spark) >= version =>
        () // lost race: the claim loses and the retry re-merges
    }

  /** The in-place write: a dynamic partition overwrite of exactly the
    * partitions `data` holds. The mode is a write option, which the
    * writer reads ahead of the session conf, so the caller's session
    * (shared by every thread on it) is never touched.
    */
  private def overwritePartitions(data: DataFrame, pc: String): Unit =
    data.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(pc).parquet(path)

  /** Commit-time index write for one data directory: the footer-stats
    * manifest, plus per-file blooms when the sink indexes any columns.
    * Both are optimizations — failures inside never fail the commit.
    */
  private def writeIndexes(spark: SparkSession, dir: Path): Unit = {
    FileSkipping.writeStats(spark, dir)
    if (bloomCols.nonEmpty) FileSkipping.writeBlooms(spark, dir, bloomCols)
  }

  /** The in-place tail for the partition directories `dirs` touched:
    * one still holding parquet files gets fresh indexes, one holding
    * none is dropped — its files are already frozen under `_history`,
    * and a dynamic overwrite only replaces partitions present in its
    * output, so an emptied directory would otherwise linger.
    * Untouched directories keep their manifests.
    */
  private def finishDirs(spark: SparkSession, f: FileSystem,
                         dirs: Seq[String]): Unit =
    dirs.foreach { d =>
      val dir = new Path(path, d)
      if (PartitionedHistory.parquetFiles(f, dir).nonEmpty)
        writeIndexes(spark, dir)
      else f.delete(dir, true)
    }

  /** After a successful upsert committing `c`: compact immediately
    * when the new state exceeds the configured small-file budget. Runs
    * OUTSIDE the committed write (the upsert is already durable; a
    * crash here just leaves the fragmentation for the next trigger).
    *
    * Versioned layout: snapshot file count over budget → [[compact]].
    * Partitioned layout: any partition DIRECTORY over budget →
    * [[compact]]'s per-partition body, invoked directly since the
    * enclosing upsert already holds the writer lock
    * ([[withWriterLock]] is not reentrant); a lock-bypassing caller
    * (`writerLockEnabled = false`) accepts the same exposure its
    * upserts already have.
    */
  private def maybeAutoCompact(spark: SparkSession, c: UpsertCommit): Unit =
    autoCompact.foreach { ac =>
      partitionCol match {
        case None =>
          val nFiles = PartitionedHistory.parquetFiles(fs(spark),
            new Path(s"$path/${c.dataDir}")).size
          if (nFiles > ac.files)
            compactVersioned(spark, ac.targetFileBytes, ac.clusterBy, ac.zorder)
        case Some(pc) =>
          val f = fs(spark)
          val fragmented = PartitionedHistory.partitionDirs(f,
            new Path(path), pc).exists(d =>
            PartitionedHistory.parquetFiles(f, new Path(path, d)).size >
              ac.files)
          if (fragmented)
            compactPartitioned(spark, pc, ac.targetFileBytes,
              ac.clusterBy, ac.zorder, ac.maxBytesPerRun)
      }
    }

  /** Test seam: invoked after the attempt's data is fully written,
    * immediately before the commit claim — the window where a
    * concurrent writer can win the version race. No-op in production.
    */
  protected def beforeCommit(version: Long): Unit = ()

  /** Test seam: invoked after the commit log is read, immediately
    * before the attempt's data write — the window where a concurrent
    * writer can both write AND commit first. No-op in production.
    */
  protected def beforeWrite(version: Long): Unit = ()

  /** Test seam (partitioned layout): invoked after the write-ahead intent
    * and the renames into `_history/v<version>/`, immediately before
    * the in-place data write — the widest torn window the rollback
    * protocol must heal. No-op in production.
    */
  protected def betweenHistoryMoveAndWrite(version: Long): Unit = ()

  /** Test seam (restore): invoked after the distributed copy job has
    * fully staged the re-added files, immediately before the driver
    * publishes them into the live tree — the window where the staging
    * dir is populated but no live directory has changed since the
    * freeze. No-op in production.
    */
  protected def afterRestoreStage(version: Long): Unit = ()

  /** Whether partitioned-layout writes take the exclusive writer
    * lock. Overridden false only by tests simulating an EXTERNAL
    * writer that does not honor the lock — for those, the
    * failed-claim ConcurrentModificationException stays the backstop.
    */
  protected def writerLockEnabled: Boolean = true

  private def writerLockPath = new Path(commitsDir, ".writer-lock")

  /** Serialize in-place partitioned writes: acquire the exclusive
    * lock file (same kernel-atomic create primitive as version
    * claims), roll back any torn predecessor, run `body`, release.
    * Waiting writers poll; a lock whose holder evidently died (age
    * beyond the staleness horizon) is broken. Both horizons are
    * session-conf-tunable — tests shorten them, production defaults
    * assume a micro-batch-scale critical section. Without
    * [[writerLockEnabled]], `body` runs bare.
    */
  private def withWriterLock[T](spark: SparkSession)(body: => T): T = {
    if (!writerLockEnabled) return body
    val f = fs(spark)
    if (!f.exists(commitsDir)) f.mkdirs(commitsDir)
    def conf(key: String, dflt: Long): Long =
      spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)
    val deadline = System.currentTimeMillis() +
      conf("graft.upsert.lockWaitMs", 180000L)
    val staleMs = conf("graft.upsert.lockStaleMs", 600000L)
    val isLocal = AtomicClaim.isLocalFs(f)
    while (!AtomicClaim.tryExclusiveCreate(f, writerLockPath, isLocal)) {
      if (System.currentTimeMillis() > deadline)
        throw new java.util.ConcurrentModificationException(
          s"timed out waiting for the writer lock on partitioned table " +
            s"$path — another writer holds ${writerLockPath}")
      val stale = scala.util.Try(f.getFileStatus(writerLockPath)).toOption
        .exists(s =>
          System.currentTimeMillis() - s.getModificationTime > staleMs)
      if (stale) f.delete(writerLockPath, false) // holder died mid-write
      Thread.sleep(100)
    }
    try {
      // under the lock, before any work: heal whatever a crashed
      // predecessor left half-applied
      recoverIncomplete(spark, f)
      body
    } finally f.delete(writerLockPath, false)
  }

  /** Compaction (the Delta OPTIMIZE analog, reference D2:
    * `SET ...optimize.maxFileSize=128MB`, 03_gold_realtime_rides.py:75),
    * one entry point for both layouts, each rewrite a committed
    * version under the same crash protocol as upserts.
    *
    *  - Versioned layout: the current snapshot is rewritten as
    *    ⌈bytes / targetFileBytes⌉ files. Returns the new snapshot
    *    directory, or Nil when the table is empty or the version race
    *    was lost (the racing upsert's snapshot supersedes ours).
    *    `maxBytesPerRun` is ignored.
    *  - Partitioned layout: every partition directory holding more
    *    files than ⌈bytes / targetFileBytes⌉ is rewritten to that
    *    count, IN PLACE under the writer lock (the only sound
    *    multi-writer contract for in-place rewrites), committed as a
    *    `compact` version — a crash mid-job is rolled back to every
    *    partition's old content. Untouched partitions are never read
    *    or rewritten. The streaming gold sink in its date-partitioned
    *    mode re-fragments each touched partition to the batch's write
    *    parallelism; this is the periodic consolidation that turns
    *    those task-count files back into size-targeted ones. Returns
    *    the rewritten partition directory names.
    *
    * @param clusterBy / `zorder`: the layout of each rewrite.
    *   `clusterBy` range-partitions + sorts on the given data columns,
    *   so each output file covers a DISJOINT range of the leading key
    *   and min/max stats let a point/range predicate skip whole files;
    *   `zorder = true` with ≥ 2 columns interleaves them into a
    *   space-filling curve ([[ZOrder]]), so predicates on ANY clustered
    *   column prune. On the partitioned layout both apply within each
    *   directory, composing with directory pruning on the partition
    *   column.
    * @param maxBytesPerRun (partitioned layout) bound on the bytes
    *   materialized per rewrite round: eligible directories are
    *   compacted in greedily-packed groups of at most this many input
    *   bytes, each group its own commit (still one writer-lock
    *   acquisition for the call). A heavily fragmented 100 TB table
    *   thus never pins its whole rewrite set in executor storage in
    *   one shot — a crash between groups leaves every completed group
    *   compacted and every pending group intact. None = single round.
    */
  def compact(spark: SparkSession,
              targetFileBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Nil,
              zorder: Boolean = false,
              maxBytesPerRun: Option[Long] = None): Seq[String] = {
    require(maxBytesPerRun.forall(_ > 0), "maxBytesPerRun must be positive")
    partitionCol match {
      case None => compactVersioned(spark, targetFileBytes, clusterBy, zorder)
      case Some(pc) => withWriterLock(spark)(compactPartitioned(spark, pc,
        targetFileBytes, clusterBy, zorder, maxBytesPerRun))
    }
  }

  /** [[compact]]'s versioned-layout body. */
  private def compactVersioned(spark: SparkSession, targetFileBytes: Long,
      clusterBy: Seq[String], zorder: Boolean): Seq[String] = {
    val (cur, head) = log.resolveLatest(spark).getOrElse(return Nil)
    val curDir = head.dataDir
    val bytes = fs(spark).getContentSummary(new Path(s"$path/$curDir")).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val newV = cur + 1
    val dir = newDataDir(newV)
    val snapshot = spark.read.parquet(s"$path/$curDir")
    val arranged =
      if (clusterBy.isEmpty) snapshot.coalesce(nFiles)
      else if (zorder && clusterBy.size >= 2)
        ZOrder.arrange(snapshot, clusterBy, nFiles)
      else {
        val cols = clusterBy.map(col)
        snapshot.repartitionByRange(nFiles, cols: _*)
          .sortWithinPartitions(cols: _*)
      }
    arranged.write.mode("overwrite").parquet(s"$path/$dir")
    writeIndexes(spark, new Path(s"$path/$dir"))
    // compaction is an optimization: losing the version race to a
    // concurrent upsert just abandons this attempt
    if (log.commitOnce(spark, newV,
        UpsertCommit.now(head.batchId, dir, "compact"))) Seq(dir)
    else { fs(spark).delete(new Path(s"$path/$dir"), true); Nil }
  }

  /** [[compact]]'s partitioned-layout body — caller MUST hold the
    * writer lock (or accept lock-bypass, as the auto-compact path
    * inside an already-locked upsert does).
    */
  private def compactPartitioned(spark: SparkSession, pc: String,
      targetFileBytes: Long, clusterBy: Seq[String], zorder: Boolean,
      maxBytesPerRun: Option[Long]): Seq[String] = {
    val f = fs(spark)
    val eligible = PartitionedHistory.partitionDirs(f, new Path(path), pc)
      .flatMap { d =>
        val files = PartitionedHistory.parquetFiles(f, new Path(path, d))
        val bytes = files.map(_.getLen).sum
        val want = math.max(1,
          math.ceil(bytes.toDouble / targetFileBytes).toInt)
        if (files.size > want) Some((d, want, bytes))
        else None
      }
    if (eligible.isEmpty) return Seq.empty
    // greedy byte-bounded grouping; a single directory larger than the
    // budget still compacts (alone in its group) — the bound caps the
    // group, it cannot make a directory uncompactable
    val groups: Seq[Seq[(String, Int, Long)]] = maxBytesPerRun match {
      case None => Seq(eligible)
      case Some(budget) =>
        val gs = Seq.newBuilder[Seq[(String, Int, Long)]]
        var cur = Vector.empty[(String, Int, Long)]
        var curBytes = 0L
        eligible.foreach { e =>
          if (cur.nonEmpty && curBytes + e._3 > budget) {
            gs += cur; cur = Vector(e); curBytes = e._3
          } else { cur = cur :+ e; curBytes += e._3 }
        }
        if (cur.nonEmpty) gs += cur
        gs.result()
    }
    groups.flatMap { group =>
      // one read over just the group's dirs; basePath derives the
      // partition column from each file's path. Materialize before
      // the overwrite swaps the input files out from under a
      // lazily-rescanned plan (the upsert path's precedent).
      val rows = spark.read.option("mergeSchema", "true")
        .option("basePath", path)
        .parquet(group.map(e => s"$path/${e._1}"): _*)
      val total = group.map(_._2).sum
      // range-partition on (pc, in-partition key): each directory's
      // rows land in contiguous tasks, so dirs get ~their ⌈share⌉ of
      // the group's file budget — and the in-partition key gives each
      // file a tight range of it
      val arranged = (if (zorder && clusterBy.size >= 2)
          ZOrder.withZColumn(rows, clusterBy)
            .repartitionByRange(total, col(pc), col(ZOrder.zColName))
            .sortWithinPartitions(col(pc), col(ZOrder.zColName))
            .drop(ZOrder.zColName)
        else {
          val inKey = if (clusterBy.nonEmpty) clusterBy else Seq(keys.head)
          val cols = col(pc) +: inKey.map(col)
          rows.repartitionByRange(total, cols: _*)
            .sortWithinPartitions(cols: _*)
        }).localCheckpoint(true)
      // each group is its own recorded commit (intent → freeze →
      // rewrite → actions → claim), so a crash between groups loses
      // nothing and time travel sees compaction as a layout-only delta
      // — identical fingerprints, an EMPTY change feed across it,
      // exactly Delta's dataChange=false
      val groupDirs = group.map(_._1)
      val cs = log.commits(spark)
      commitInPlace(spark, nextVersion(cs),
        UpsertCommit.now(lastStreamBatch(cs), "-", "compact"),
        groupDirs)(overwritePartitions(arranged, pc))
      groupDirs
    }
  }

  /** Upsert one batch. Replayed batchIds (crash between sink commit
    * and checkpoint commit) are skipped — the micro-batch output for a
    * given id is deterministic, so skipping preserves exactly-once.
    *
    * `batchId` is REQUIRED (a default would let two bare calls
    * silently no-op the second one via the replay check): pass the
    * streaming micro-batch id, or the sentinel -1 for ad-hoc batch
    * callers that want no idempotence/replay protection.
    *
    * `updates` is evaluated ONCE per call. The merge reads it twice
    * (key broadcast and union), the partitioned layout also collects
    * its partition values, and every lost-race retry reads it again —
    * all from one MEMORY_AND_DISK materialization, released when the
    * call returns. The reason is the streaming caller: in a
    * foreachBatch the upstream stateful operators run, and commit
    * their state, inside each job that evaluates `updates`, so every
    * re-read would redo the state store's load, update and snapshot
    * upload. An evicted block goes to disk, never back to the
    * upstream plan. A DataFrame the caller already cached is read
    * through its cache and left cached.
    */
  def upsert(spark: SparkSession, updates: DataFrame, batchId: Long): Unit = {
    val own = updates.storageLevel == StorageLevel.NONE
    if (own) updates.persist(StorageLevel.MEMORY_AND_DISK)
    try partitionCol match {
      case None =>
        log.commitWithRetry(spark, None, beforeCommit, cleanupPerRace = true) {
          (newV, head) => upsertVersioned(spark, updates, batchId, newV, head)
        }.foreach(maybeAutoCompact(spark, _))
      // in-place rewrites: mutual exclusion, not optimistic retry (see
      // class doc) — the commit-log read inside happens under the lock,
      // so each writer merges against the fresh head
      case Some(pc) =>
        withWriterLock(spark)(upsertPartitioned(spark, updates, batchId, pc))
    } finally if (own) updates.unpersist()
  }

  /** The TABLE effect of a replayed batch must not re-apply — but the
    * batch must still be CONSUMED: in a streaming foreachBatch the
    * upstream stateful operators run inside this DataFrame's job, and
    * returning without an action would leave their state stores
    * uncommitted for this batch (Spark 4.1's state-store commit
    * validation fails the restarted query over exactly this). The noop
    * sink drives every partition at full speed with zero write side
    * effects.
    */
  private def consume(updates: DataFrame): Unit =
    updates.write.format("noop").mode("overwrite").save()

  /** One versioned-layout upsert attempt at `newV` over `head`: a full
    * new snapshot in a UNIQUELY-NAMED directory. The previous version
    * stays readable until the claim lands, so a crash here is
    * invisible to readers — and a racing writer's snapshot can never
    * share (or clobber) our path.
    */
  private def upsertVersioned(spark: SparkSession, updates: DataFrame,
      batchId: Long, newV: Long, head: Option[UpsertCommit])
      : Option[(UpsertCommit, Seq[String])] = {
    val cs = log.commits(spark)
    if (alreadyApplied(batchId, cs)) { consume(updates); return None }
    // An uncommitted table with pre-existing data (external writer or
    // a pre-commit-log layout) is adopted as the merge base, never
    // clobbered.
    val adopt = head.isEmpty && hasExternalData(spark)
    val dataDir = newDataDir(newV)
    beforeWrite(newV)
    val data =
      if (head.isEmpty && !adopt) updates
      else {
        val m = Upsert.merge(snapshotAt(spark, head.map(_.dataDir)),
          updates, keys)
        // adopt-case base lives at `path` itself, which the new
        // snapshot is written under — materialize before writing
        if (adopt) m.localCheckpoint(true) else m
      }
    writeSnapshot(spark, newV, dataDir, data)
    Some((UpsertCommit.now(recorded(batchId, cs), dataDir, "upsert"),
      Seq(dataDir)))
  }

  /** Partitioned-layout upsert body — MUST run under the writer lock
    * (or external coordination, for lock-bypassing callers).
    */
  private def upsertPartitioned(spark: SparkSession, updates: DataFrame,
                                batchId: Long, pc: String): Unit = {
    val cs = log.commits(spark)
    if (alreadyApplied(batchId, cs)) { consume(updates); return }
    val newV = nextVersion(cs)
    val adopt = cs.isEmpty && hasExternalData(spark)
    beforeWrite(newV)
    // one job: the typed values prune the base scan, their string
    // forms name the partition directories
    val touched = updates.select(col(pc), col(pc).cast("string")).distinct()
      .collect().toSeq
    // First batch: create (03_gold_realtime_rides.py:97-99) — via
    // DYNAMIC overwrite, writing only the batch's own partitions. A
    // STATIC overwrite here would delete the entire path, including a
    // concurrent writer's just-committed v0 data and the _commits log
    // itself — silently clobbering the race this protocol exists to
    // detect.
    //
    // Later batches merge partition-granular: read ONLY the partitions
    // the batch touches (partition-pruned scan), merge,
    // dynamic-overwrite just those partitions. Untouched partitions are
    // never read or rewritten. localCheckpoint materializes the merge
    // before the history freeze or the overwrite removes its input
    // files.
    //
    // EXCEPT when the batch widens the schema: a touched-only rewrite
    // would leave untouched partitions' files on the old narrow schema
    // forever, making every later read depend on schema merging.
    // Widening is rare, so pay a one-time FULL rewrite: merge against
    // the whole table and emit every partition (dynamic overwrite then
    // rewrites them all) so the on-disk schema is uniform again.
    val (data, widens) =
      if (newV == 0 && !adopt) (updates, false)
      else {
        val baseAll = read(spark)
        val widens = updates.columns.exists(c => !baseAll.columns.contains(c))
        val base =
          if (widens) baseAll
          else baseAll.filter(col(pc).isInCollection(touched.map(_.get(0))))
        (Upsert.merge(base, updates, keys).localCheckpoint(true), widens)
      }
    // a widening batch rewrites EVERY partition — its touched set is
    // every directory on disk plus any the batch creates
    val batchDirs = touched.map(r => partDirName(pc, r.getString(1)))
    val touchedDirs =
      if (!widens) batchDirs
      else (PartitionedHistory.partitionDirs(fs(spark), new Path(path), pc) ++
        batchDirs).distinct
    val c = UpsertCommit.now(recorded(batchId, cs), "-", "upsert")
    commitInPlace(spark, newV, c, touchedDirs)(overwritePartitions(data, pc))
    maybeAutoCompact(spark, c)
  }

  /** Retract every row matching `predicate` in a new committed
    * version — the `MERGE ... WHEN MATCHED DELETE` / `DELETE FROM`
    * analog the reference's Delta sink gets for free.
    *
    * Versioned layout: CAS commit + re-merge retry, so concurrent
    * upserts and deletes serialize optimistically; the retraction then
    * surfaces to incremental consumers as `delete` rows in
    * [[changeFeed]]. Partitioned layout: same writer-lock mutual
    * exclusion as [[upsert]] (in-place rewrites cannot be rolled
    * back), rewriting ONLY the partitions that hold matching rows —
    * partition-pruned cost; a fully-emptied partition's directory is
    * dropped by the in-place tail ([[finishDirs]]).
    *
    * SQL/Delta DELETE retracts only rows where the predicate is TRUE;
    * a NULL verdict (e.g. `delete(col("status") === "bad")` on a null
    * status) keeps the row. A bare `!predicate` would treat NULL as
    * "delete" — coalesce pins the three-valued logic.
    */
  def delete(spark: SparkSession, predicate: org.apache.spark.sql.Column,
             batchId: Long): Unit =
    partitionCol match {
      case None =>
        log.commitWithRetry(spark, None, beforeCommit, cleanupPerRace = true) {
          (newV, head) => deleteVersioned(spark, predicate, batchId, newV, head)
        }
      case Some(pc) =>
        withWriterLock(spark)(deletePartitioned(spark, predicate, batchId, pc))
    }

  /** One versioned-layout delete attempt at `newV` over `head`. */
  private def deleteVersioned(spark: SparkSession,
      predicate: org.apache.spark.sql.Column, batchId: Long, newV: Long,
      head: Option[UpsertCommit]): Option[(UpsertCommit, Seq[String])] = {
    val cs = log.commits(spark)
    if (alreadyApplied(batchId, cs)) return None
    val adopt = head.isEmpty && hasExternalData(spark)
    if (head.isEmpty && !adopt) return None // empty table: nothing to retract
    val dataDir = newDataDir(newV)
    val survivors = snapshotAt(spark, head.map(_.dataDir))
      .filter(not(coalesce(predicate, lit(false))))
    // adopt-case base lives at `path` itself, under which the new
    // snapshot is written — materialize first
    writeSnapshot(spark, newV, dataDir,
      if (adopt) survivors.localCheckpoint(true) else survivors)
    Some((UpsertCommit.now(recorded(batchId, cs), dataDir, "delete"),
      Seq(dataDir)))
  }

  /** Partitioned-layout delete body — MUST run under the writer lock
    * (or external coordination, for lock-bypassing callers).
    */
  private def deletePartitioned(spark: SparkSession,
                                predicate: org.apache.spark.sql.Column,
                                batchId: Long, pc: String): Unit = {
    val cs = log.commits(spark)
    if (alreadyApplied(batchId, cs)) return
    if (cs.isEmpty && !hasExternalData(spark)) return // nothing to retract
    val base = read(spark)
    val hit = coalesce(predicate, lit(false))
    // only partitions holding at least one matching row are touched;
    // ≤ |partitions| values on the driver, the upsert path's bound.
    // Values are collected CAST TO STRING — the same rendering the
    // parquet writer uses for partition path fragments — so emptied
    // directories resolve by name without re-encoding native types
    // (e.g. a Timestamp's toString carries a trailing ".0" the path
    // never has).
    val touched = base.filter(hit)
      .select(col(pc).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (touched.isEmpty && batchId < 0) return // no match, nothing to record
    // materialize before the history freeze or the overwrite removes
    // its own input files
    val survivors = if (touched.isEmpty) None else Some(
      base.filter(col(pc).cast("string").isInCollection(touched))
        .filter(not(hit)).localCheckpoint(true))
    // with no match, the commit is a batchId marker (replay protection)
    // with an empty actions record
    commitInPlace(spark, nextVersion(cs),
      UpsertCommit.now(recorded(batchId, cs), "-", "delete"),
      touched.map(partDirName(pc, _)))(
      survivors.foreach(overwritePartitions(_, pc)))
  }

  /** Reclaim ORPHAN snapshot directories (versioned layout) — the
    * Delta VACUUM analog, mirroring [[graft.functions.IvfIndex#vacuum]]:
    * a writer that died between writing its `v<N>-<uuid>` snapshot and
    * claiming the version (or that lost the claim and crashed before
    * its own cleanup) leaves a directory no commit references —
    * invisible to readers, leaking disk forever. Commit-time GC only
    * trims COMMITTED versions, so it never sees these.
    *
    * Safety rails (same two as the IVF index, [[GenerationLog.vacuum]]):
    *  - an in-flight writer's snapshot looks exactly like an orphan
    *    until its commit lands → only directories older than
    *    `olderThanMs` (default 24 h ≫ any snapshot write) qualify;
    *  - a directory referenced by ANY present commit is never touched,
    *    whatever its age — in-retention readers keep working.
    *
    * Returns the reclaimed directory names. No-op on the partitioned
    * layout (data lives in place; there are no snapshot dirs).
    */
  def vacuum(spark: SparkSession,
             olderThanMs: Long = 86400000L): Seq[String] =
    if (partitionCol.nonEmpty) Seq.empty
    else log.vacuum(spark, "^v\\d+(-[0-9a-f]{8})?$".r.matches(_), olderThanMs)

  /** One row per RETAINED commit, newest first — the Delta
    * `DESCRIBE HISTORY` analog. Columns: version, batch_id,
    * operation (upsert/delete/compact/restore), committed_at,
    * data_dir. Only the newest `retainVersions` commits exist (GC
    * trims the rest with their snapshots); commits written before
    * this format carry null operation/timestamp, and partitioned
    * commits a null data_dir. Driver-side listing of ≤ retainVersions
    * files — O(1) at any table size.
    */
  def history(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = log.commits(spark).reverse.map { case (v, c) =>
      org.apache.spark.sql.Row(v, c.batchId, c.op.orNull,
        c.epochMillis.map(new java.sql.Timestamp(_)).orNull,
        if (c.dataDir == "-") null else c.dataDir)
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("batch_id", LongType, nullable = false),
      StructField("operation", StringType),
      StructField("committed_at", TimestampType),
      StructField("data_dir", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Roll the table back to a retained `version` — the Delta
    * `RESTORE TABLE ... TO VERSION AS OF` analog (raise
    * `retainVersions` to widen the restore window). The rollback is
    * itself a NEW commit: readers are never interrupted, [[history]]
    * records it, and the change feed across the restore shows exactly
    * the retractions/re-inserts a downstream incremental consumer must
    * apply. The batchId high-water mark carries forward so streaming
    * replay protection survives the rollback.
    *
    * Versioned layout: ZERO-COPY — the new commit re-references the
    * old snapshot directory (GC is reference-counted, so the shared
    * dir survives until no retained commit points at it).
    *
    * Partitioned layout: a locked commit through the normal history
    * protocol whose delta is computed from
    * [[PartitionedHistory.liveAt]] — live files absent at the target
    * version are frozen (metadata renames), files the target had that
    * are now frozen are COPIED back out of their `_history/v<w>/`
    * homes (the frozen copy must stay: backward replay of versions
    * older than `w` still resolves there). Cost is O(restored delta)
    * renames + bytes, never a table rewrite; crash-safe at every step
    * under the same write-ahead-intent rollback as any other commit.
    */
  def restore(spark: SparkSession, version: Long): Unit = partitionCol match {
    case None =>
      val cs = log.commits(spark)
      val target = committed(cs, version)
      if (cs.last._1 == version) return // already current
      val newV = cs.last._1 + 1
      if (!log.commitOnce(spark, newV,
          UpsertCommit.now(lastStreamBatch(cs), target.dataDir, "restore")))
        throw lostClaim(newV, "restore",
          "re-check the table state and retry")
    case Some(pc) =>
      withWriterLock(spark)(restorePartitioned(spark, version, pc))
  }

  /** Partitioned-layout restore body — MUST run under the writer lock
    * (recovery of any torn predecessor has already run on lock
    * acquisition, so the live listing is trustworthy).
    */
  private def restorePartitioned(spark: SparkSession, version: Long,
                                 pc: String): Unit = {
    val cs = log.commits(spark)
    committed(cs, version)
    if (cs.last._1 == version) return // already current
    val f = fs(spark)
    val root = new Path(path)
    val at = fileMapAt(spark, pc, cs)
    val current = at(cs.last._1)
    val targetMap = at(version)
    // add/remove algebra over uniquely-named immutable files: a
    // relpath live at both versions is the same physical file — only
    // the symmetric difference moves
    val toFreeze = (current.keySet -- targetMap.keySet).toSeq.sorted
    val toAdd = (targetMap.keySet -- current.keySet).toSeq.sorted
    val newV = cs.last._1 + 1
    // parse the copy-parallelism conf BEFORE any mutation: a malformed
    // value must fail the restore as a clean no-op, not abort after
    // the intent is written and originals are frozen
    val copySlices = spark.conf
      .getOption("graft.upsert.restoreCopySlices").map(_.toInt)
      .getOrElse(math.max(1, spark.sparkContext.defaultParallelism))
    // states identical (only layout-preserving commits since) make an
    // empty delta, still recorded for backward replay
    val touchedDirs =
      (toFreeze ++ toAdd).map(_.takeWhile(_ != '/')).distinct.sorted
    commitInPlace(spark, newV,
      UpsertCommit.now(lastStreamBatch(cs), "-", "restore"), touchedDirs,
      frozen = Some(toFreeze), adds = Some(toAdd)) {
      // Re-adds are unlisted in the intent (they were not live), so a
      // crash from here on deletes them and thaws toFreeze — exact
      // pre-restore state. The byte work runs as a SPARK JOB, not a
      // driver pool: a restore that re-adds terabytes must stream
      // executor→store at cluster aggregate bandwidth, never funnel
      // through one driver NIC. Tasks copy into a staging dir under
      // `_commits` (invisible to every reader); only after the job
      // has FULLY succeeded does the driver publish the staged files
      // into the live tree by metadata-only renames. The ordering is
      // the crash-safety argument: a failed or STRAGGLING copy task
      // can only ever write staged bytes — it cannot land a file in a
      // live directory after a later recovery's rollback scanned it —
      // and staged leftovers are reclaimed by rollback/GC with the
      // torn commit.
      // per-ATTEMPT stage dir: a retry never shares a path with a
      // zombie copy task of a failed predecessor (newStageDir doc)
      val stage = PartitionedHistory.newStageDir(commitsDir, newV)
      restoreCopyBack(spark, stage, copySlices,
        toAdd.map(rel => (new Path(root, targetMap(rel)).toString,
          new Path(stage, rel).toString)))
      afterRestoreStage(newV)
      try {
        toAdd.map(rel => new Path(root, rel).getParent).distinct
          .foreach(parent => if (!f.exists(parent)) f.mkdirs(parent))
        toAdd.foreach { rel =>
          val dst = new Path(root, rel)
          if (!f.rename(new Path(stage, rel), dst))
            throw new java.io.IOException(
              s"restore publish failed: $stage/$rel -> $dst")
        }
      } finally f.delete(stage, true)
    }
  }

  /** The restore delta's byte work, DISTRIBUTED: each (src, dst) copy
    * is a Spark task (dst always under the staging dir — the caller
    * owns the publish ordering), so a restore that re-adds terabytes
    * streams at cluster aggregate bandwidth. Slices default to one
    * task wave (`defaultParallelism`), overridable via the session
    * conf `graft.upsert.restoreCopySlices` — ScaleProof uses the knob
    * to show wall-time scales with parallelism, not
    * file count × single-pipe bandwidth. On ANY failure the staged
    * bytes are reclaimed best-effort and the error propagates: no
    * live-tree write has happened yet, so the pending intent rolls
    * back exactly as if no copy had run (a straggler task that is
    * still copying can only write MORE staged bytes, which the
    * rollback also sweeps).
    *
    * Within the staging dir each task attempt is COMMITTER-STYLE
    * isolated: the copy writes a task-attempt-unique temp name and
    * renames it onto the final staged path only when its own bytes
    * are complete. The per-attempt stage dir isolates restore
    * ATTEMPTS from each other, but not two task attempts of the SAME
    * restore (speculation, or a zombie re-run after a fetch failure
    * while the original still writes): two attempts copying the same
    * staged path through non-atomic FileUtil.copy could let the job
    * succeed while a zombie is still truncating that path, and the
    * driver's publish rename would land a torn file in the live
    * tree. With the temp+rename protocol the published file is
    * always a COMPLETED attempt's output — a loser's rename onto an
    * existing path either fails (HDFS semantics; its temp is swept)
    * or atomically replaces complete bytes with the same complete
    * bytes (POSIX semantics); a zombie's late temp re-creation only
    * adds staged bytes the stage-dir delete sweeps.
    */
  private def restoreCopyBack(spark: SparkSession, stage: Path,
                              copySlices: Int,
                              pairs: Seq[(String, String)]): Unit = {
    if (pairs.isEmpty) return
    import scala.jdk.CollectionConverters._
    // the conf object is not serializable; ship its property list and
    // rebuild per partition (same discipline as FileSkipping's
    // distributed stats collection)
    val props = spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    val slices = math.max(1, math.min(pairs.size, copySlices))
    try {
      spark.sparkContext.parallelize(pairs, slices).foreachPartition { it =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        props.foreach { case (k, v) => c.set(k, v) }
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(tc => tc.taskAttemptId().toString)
          .getOrElse(java.util.UUID.randomUUID().toString.take(8))
        it.foreach { case (src, dst) =>
          val sp = new Path(src)
          val dp = new Path(dst)
          val dfs = dp.getFileSystem(c)
          dfs.mkdirs(dp.getParent)
          val tmp = new Path(dp.getParent,
            s".${dp.getName}.attempt-$attempt")
          if (!org.apache.hadoop.fs.FileUtil.copy(
              sp.getFileSystem(c), sp, dfs, tmp, false, true, c))
            throw new java.io.IOException(
              s"restore copy failed: $src -> $tmp")
          if (!dfs.rename(tmp, dp)) {
            // a sibling attempt already published this staged path —
            // drop our redundant temp; fail only if NOBODY published
            scala.util.Try(dfs.delete(tmp, false))
            if (!dfs.exists(dp))
              throw new java.io.IOException(
                s"restore stage publish failed: $tmp -> $dst")
          }
        }
      }
    } catch {
      case t: Throwable =>
        scala.util.Try(fs(spark).delete(stage, true))
        throw t
    }
  }

  /** Whether `t`'s cause chain contains a FileNotFoundException (typed
    * or named in a wrapped task-failure message).
    */
  private def fnfInChain(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
          (c.getMessage != null &&
            c.getMessage.contains("FileNotFoundException")))
        return true
      c = c.getCause
    }
    false
  }
}

object ParquetUpsertSink {

  /** One candidate directory of [[ParquetUpsertSink.selectFiles]]:
    * its live parquet files, its stats manifest when that names
    * exactly those files, and the partition value its name carries
    * (partitioned layout).
    */
  private final case class ListedDir(dir: Path, prefix: String,
      partValue: Option[String], files: Seq[String],
      manifest: Option[Seq[FileSkipping.FileStat]])

  /** A [[ParquetUpsertSink.selectFiles]] decision; `schema` is the
    * kept files' schema when one sample file determines it (a
    * versioned snapshot).
    */
  private[graft] final case class FileSelection(root: String,
      kept: Seq[String], total: Int,
      stats: Option[Seq[FileSkipping.FileStat]],
      schema: Option[org.apache.spark.sql.types.StructType])

  /** Metadata key stamped on `_change_type` by the pre-image-complete
    * change feed ([[ParquetUpsertSink.changeFeed]] with
    * `withPreimages = true`) — the marker [[IncrementalAgg]] requires
    * before trusting a feed for exact update retraction.
    */
  val preimagesMetadataKey = "graft.ivm.preimages"

  private[graft] val preimagesMetadata: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(preimagesMetadataKey, true).build()

  /** Whether `feed`'s `_change_type` column carries the pre-image
    * marker — i.e. the feed was produced by the `withPreimages = true`
    * path (possibly filtered/projected/persisted since; the metadata
    * rides the schema through all of those).
    */
  def hasPreimageMarker(feed: DataFrame): Boolean =
    feed.schema.find(_.name == "_change_type").exists(f =>
      f.metadata.contains(preimagesMetadataKey) &&
        f.metadata.getBoolean(preimagesMetadataKey))
}
