package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.operators.{ParquetUpsertSink, PartitionedHistory}

/** Crash-ordering tests for the partitioned layout's history protocol
  * (on the default partitioned sink): a writer is killed at every step of the
  * intent → freeze → write → actions → claim window, and after each
  * torn state BOTH contracts must hold —
  *
  *  1. the READ path (read / readVersion) serves exactly the last
  *     committed state, mutating nothing;
  *  2. locked-write recovery (rollback) restores the live file set
  *     and contents EXACTLY, after which the table accepts new
  *     commits and retained time travel still works.
  *
  * The pre-move windows (intent written, zero or some files frozen)
  * are the ones where live files ARE the committed originals — the
  * states a frozen-files-only recovery would destroy.
  */
class PartitionedHistoryCrashSpec extends SparkTestBase {
  import spark.implicits._

  private def hfs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Sink with injectable crashes at the protocol's two seams. */
  private class CrashSink(path: String)
      extends ParquetUpsertSink(path, Seq("id"), Some("dt"),
        retainVersions = 6) {
    @volatile var crashAt: String = ""
    override protected def betweenHistoryMoveAndWrite(v: Long): Unit =
      if (crashAt == "afterMove")
        throw new RuntimeException(s"injected crash: after move, v$v")
    override protected def beforeCommit(v: Long): Unit =
      if (crashAt == "beforeClaim")
        throw new RuntimeException(s"injected crash: before claim, v$v")
    override protected def afterRestoreStage(v: Long): Unit =
      if (crashAt == "afterStage")
        throw new RuntimeException(s"injected crash: after stage, v$v")
  }

  private def batch(tag: String, ids: (Long, String)*): DataFrame =
    ids.map { case (id, dt) => (id, dt, tag) }.toDF("id", "dt", "payload")

  private def content(df: DataFrame): Set[(Long, String, String)] =
    df.select("id", "dt", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  private def listing(dir: String): Set[String] =
    PartitionedHistory.liveRelpaths(hfs, new Path(dir), "dt").toSet

  /** Two committed versions over three partitions; returns
    * (sink, committed content, committed file listing).
    */
  private def committedTable(dir: String)
      : (CrashSink, Set[(Long, String, String)], Set[String]) = {
    val sink = new CrashSink(dir)
    sink.upsert(spark, batch("v0", 1L -> "a", 2L -> "a", 3L -> "b"), 0L)
    sink.upsert(spark, batch("v1", 3L -> "b", 4L -> "c"), 1L)
    (sink, content(sink.read(spark)), listing(dir))
  }

  test("crash after intent, before ANY move: live files are the " +
      "committed originals — reads serve them, recovery keeps them") {
    val dir = tmpDir("phc") + "/t"
    val (sink, want, files) = committedTable(dir)
    // simulate the narrowest torn window by hand: a fully-written
    // intent for v2 naming both dirs and every committed file, with
    // the writer dead before a single rename
    val touched = Seq("dt=a", "dt=b")
    val originals = PartitionedHistory.listDirFiles(hfs, new Path(dir), touched)
    assert(originals.nonEmpty)
    PartitionedHistory.writeIntent(hfs, new Path(dir, "_commits"), 2L,
      PartitionedHistory.Intent(touched, originals))
    // read path: last committed state, nothing mutated
    assert(content(sink.read(spark)) === want)
    assert(content(sink.readVersion(spark, 1L)) === want)
    assert(listing(dir) === files, "reads must not mutate the table")
    // recovery: exact restore — no committed file may be lost
    sink.recoverIncompleteCommit(spark)
    assert(listing(dir) === files,
      "rollback of a pre-move torn commit must not delete committed data")
    assert(content(sink.read(spark)) === want)
    assert(!hfs.exists(PartitionedHistory.intentPath(
      new Path(dir, "_commits"), 2L)))
    assert(!hfs.exists(PartitionedHistory.historyDir(new Path(dir), 2L)))
    // the healed table accepts the retried commit
    sink.upsert(spark, batch("v2", 2L -> "a"), 2L)
    assert(content(sink.read(spark)) ===
      want.filterNot(_._1 == 2L) + ((2L, "a", "v2")))
  }

  test("crash MID-move (some files frozen, some live): recovery " +
      "reunites both halves exactly") {
    val dir = tmpDir("phc") + "/t"
    val (sink, want, files) = committedTable(dir)
    val touched = Seq("dt=a", "dt=b", "dt=c")
    val originals = PartitionedHistory.listDirFiles(hfs, new Path(dir), touched)
    assert(originals.size >= 2)
    PartitionedHistory.writeIntent(hfs, new Path(dir, "_commits"), 2L,
      PartitionedHistory.Intent(touched, originals))
    // the move dies halfway through its list
    PartitionedHistory.moveToHistory(hfs, new Path(dir), 2L,
      originals.take(originals.size / 2))
    assert(listing(dir) !== files, "setup: some files must be frozen")
    // read path routes each listed file to wherever it currently sits
    assert(content(sink.read(spark)) === want)
    assert(content(sink.readVersion(spark, 1L)) === want)
    // recovery: frozen half renamed back, live half untouched
    sink.recoverIncompleteCommit(spark)
    assert(listing(dir) === files)
    assert(content(sink.read(spark)) === want)
    assert(!hfs.exists(PartitionedHistory.historyDir(new Path(dir), 2L)))
  }

  test("crash after ALL moves, before the data write (seam): torn dirs " +
      "read from history; the next locked write heals then applies") {
    val dir = tmpDir("phc") + "/t"
    val (sink, want, files) = committedTable(dir)
    sink.crashAt = "afterMove"
    val boom = intercept[RuntimeException] {
      sink.upsert(spark, batch("vX", 2L -> "a", 4L -> "c"), 2L)
    }
    assert(boom.getMessage.contains("after move"))
    sink.crashAt = ""
    // mid-crash: touched dirs are empty on disk, reads still whole
    assert(content(sink.read(spark)) === want)
    assert(content(sink.readVersion(spark, 1L)) === want)
    // the next ordinary locked write recovers first, then applies
    sink.upsert(spark, batch("v2", 2L -> "a", 4L -> "c"), 2L)
    val expect = want.filterNot(r => r._1 == 2L || r._1 == 4L) +
      ((2L, "a", "v2")) + ((4L, "c", "v2"))
    assert(content(sink.read(spark)) === expect)
    // time travel across the healed gap is intact
    assert(content(sink.readVersion(spark, 1L)) === want)
    assert(hfs.exists(PartitionedHistory.historyDir(new Path(dir), 2L)),
      "the RETRIED commit's history must exist")
  }

  test("crash after write + actions, before the claim (seam): rolled " +
      "BACK, not forward — fully-written new data is discarded") {
    val dir = tmpDir("phc") + "/t"
    val (sink, want, files) = committedTable(dir)
    sink.crashAt = "beforeClaim"
    intercept[RuntimeException] {
      sink.upsert(spark, batch("vX", 1L -> "a", 5L -> "b"), 2L)
    }
    sink.crashAt = ""
    // the overwrite completed — torn output is live on disk — yet
    // readers must still see only the committed state
    assert(listing(dir) !== files, "setup: torn output must be on disk")
    assert(content(sink.read(spark)) === want)
    assert(content(sink.readVersion(spark, 1L)) === want)
    sink.recoverIncompleteCommit(spark)
    assert(listing(dir) === files,
      "rollback must restore the exact committed file set")
    assert(content(sink.read(spark)) === want)
    // scan (manifest-pruned path) agrees after the manifests refresh
    assert(content(sink.scan(spark, col("dt") === "a")) ===
      want.filter(_._2 == "a"))
    // uncommitted batchId 2 must NOT be replay-protected: it never
    // committed, so the retry applies
    sink.upsert(spark, batch("v2", 5L -> "b"), 2L)
    assert(content(sink.read(spark)) === want + ((5L, "b", "v2")))
  }

  test("torn DELETE and torn COMPACTION roll back like any commit") {
    val dir = tmpDir("phc") + "/t"
    val (sink, want, files) = committedTable(dir)
    sink.crashAt = "afterMove"
    intercept[RuntimeException] { sink.delete(spark, col("id") === 3L, 2L) }
    sink.crashAt = ""
    assert(content(sink.read(spark)) === want)
    sink.recoverIncompleteCommit(spark)
    assert(listing(dir) === files)
    // fragment a partition deterministically (duplicate one of its
    // files under a fresh name), then tear its compaction
    val aFiles = hfs.listStatus(new Path(dir, "dt=a")).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    org.apache.hadoop.fs.FileUtil.copy(hfs, aFiles.head.getPath, hfs,
      new Path(dir, "dt=a/part-copy.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    val post = content(sink.read(spark))
    val postFiles = listing(dir)
    sink.crashAt = "afterMove"
    intercept[RuntimeException] {
      sink.compact(spark, 1024L * 1024 * 1024)
    }
    sink.crashAt = ""
    assert(content(sink.read(spark)) === post)
    sink.recoverIncompleteCommit(spark)
    assert(listing(dir) === postFiles)
    assert(content(sink.read(spark)) === post)
    // and a clean compaction afterwards succeeds with identical rows
    sink.compact(spark, 1024L * 1024 * 1024)
    assert(content(sink.read(spark)) === post)
  }

  test("torn RESTORE rolls back to the exact pre-restore state " +
      "(re-added copies are unlisted → deleted; frozen files thaw)") {
    val dir = tmpDir("phc") + "/t"
    val (sink, _, _) = committedTable(dir)
    sink.delete(spark, col("dt") === "c", 2L) // dt=c leaves, frozen at v2
    val preState = content(sink.read(spark))
    val preFiles = listing(dir)
    // restore(1) must re-add dt=c's file by copy and freeze nothing
    // new in dt=c; crash right after its freeze+intent step
    sink.crashAt = "afterMove"
    intercept[RuntimeException] { sink.restore(spark, 1L) }
    sink.crashAt = ""
    assert(content(sink.read(spark)) === preState,
      "mid-crash reads must serve the pre-restore state")
    sink.recoverIncompleteCommit(spark)
    assert(listing(dir) === preFiles,
      "torn-restore rollback must restore the exact file set")
    assert(content(sink.read(spark)) === preState)
    // now tear it AFTER the copy-back, before the claim: the restored
    // copies are live on disk but UNLISTED in the intent — recovery
    // must delete them and return to the pre-restore state again
    sink.crashAt = "beforeClaim"
    intercept[RuntimeException] { sink.restore(spark, 1L) }
    sink.crashAt = ""
    assert(listing(dir) !== preFiles, "setup: copies must be on disk")
    assert(content(sink.read(spark)) === preState,
      "mid-crash reads must exclude the unlisted restore copies")
    sink.recoverIncompleteCommit(spark)
    assert(listing(dir) === preFiles,
      "unlisted restore copies must be deleted by rollback")
    assert(content(sink.read(spark)) === preState)
    // the retried restore completes and round-trips
    sink.restore(spark, 1L)
    assert(content(sink.read(spark))
      === content(sink.readVersion(spark, 1L)))
    assert(content(sink.read(spark)).exists(_._2 == "c"),
      "restored state must hold the deleted partition's rows again")
  }

  test("crash between restore STAGING and publish: staged copies are " +
      "invisible to readers; rollback sweeps the stage dir") {
    val dir = tmpDir("phc") + "/t"
    val (sink, _, _) = committedTable(dir)
    sink.delete(spark, col("dt") === "c", 2L)
    val preState = content(sink.read(spark))
    val preFiles = listing(dir)
    // the distributed copy job lands dt=c's file under
    // _commits/restore-stage-v3/, the driver dies before a single
    // publish rename: the live tree holds only the freeze's result
    sink.crashAt = "afterStage"
    intercept[RuntimeException] { sink.restore(spark, 1L) }
    sink.crashAt = ""
    def stageDirs = hfs.listStatus(new Path(dir, "_commits")).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(PartitionedHistory.stagePrefix(3L)))
      .map(_.getPath)
    assert(stageDirs.nonEmpty && stageDirs.forall(sd =>
      PartitionedHistory.listDirFiles(hfs, sd, Seq("dt=c")).nonEmpty),
      "setup: the copy job must have staged dt=c's file")
    assert(content(sink.read(spark)) === preState,
      "staged-but-unpublished copies must be invisible to readers")
    sink.recoverIncompleteCommit(spark)
    assert(stageDirs.isEmpty,
      "rollback must reclaim the torn restore's staging dir(s)")
    assert(listing(dir) === preFiles)
    assert(content(sink.read(spark)) === preState)
    // the retried restore completes
    sink.restore(spark, 1L)
    assert(content(sink.read(spark)).exists(_._2 == "c"))
  }

  test("cross-process failover: a SECOND sink instance over the same " +
      "dir recovers a predecessor's torn commit on lock acquisition") {
    val dir = tmpDir("phc") + "/t"
    val (sink1, want, files) = committedTable(dir)
    // instance one dies in the widest torn window: intent written,
    // originals frozen, fresh overwrite output partially live
    sink1.crashAt = "beforeClaim"
    intercept[RuntimeException] {
      sink1.upsert(spark, batch("v2", 1L -> "a", 5L -> "c"), 2L)
    }
    assert(PartitionedHistory.pendingVersions(hfs,
      new Path(dir, "_commits"), Set(0L, 1L)) === Seq(2L),
      "setup: instance one must leave a pending intent behind")
    // a FRESH instance (new JVM in production — nothing shared but the
    // directory) takes the writer lock for a normal upsert; recovery
    // of the torn v2 runs on acquisition, then its own commit lands
    val sink2 = new ParquetUpsertSink(dir, Seq("id"), Some("dt"),
      retainVersions = 6)
    sink2.upsert(spark, batch("v2b", 4L -> "c"), 2L)
    assert(content(sink2.read(spark)) ===
      want.filterNot(_._1 == 4L) + ((4L, "c", "v2b")),
      "the failover write must apply over the last COMMITTED state, " +
        "not instance one's torn leftovers")
    assert(PartitionedHistory.pendingVersions(hfs,
      new Path(dir, "_commits"), Set(0L, 1L, 2L)).isEmpty,
      "recovery must have consumed the torn intent")
    // both instances' views agree, and retained travel still works
    assert(content(sink1.read(spark)) === content(sink2.read(spark)))
    assert(content(sink2.readVersion(spark, 1L)) === want)
    assert(listing(dir) !== files)
  }

  test("torn CREATE (v0): rollback leaves no table, a fresh create works") {
    val dir = tmpDir("phc") + "/t"
    val sink = new CrashSink(dir)
    sink.crashAt = "afterMove" // create-case seam fires pre-write
    intercept[RuntimeException] {
      sink.upsert(spark, batch("v0", 1L -> "a"), 0L)
    }
    sink.crashAt = ""
    assert(sink.read(spark).count() === 0L)
    sink.recoverIncompleteCommit(spark)
    assert(listing(dir).isEmpty)
    sink.upsert(spark, batch("v0", 1L -> "a", 2L -> "b"), 0L)
    assert(content(sink.read(spark)) ===
      Set((1L, "a", "v0"), (2L, "b", "v0")))
    assert(sink.currentVersion(spark) === 0L)
  }

  test("readVersion(v) ≡ the state recorded after commit v, for every " +
      "retained v across upserts, deletes and compaction") {
    val dir = tmpDir("phc") + "/t"
    val sink = new CrashSink(dir)
    val recorded = scala.collection.mutable.Map.empty[Long, Set[(Long, String, String)]]
    def record(): Unit =
      recorded(sink.currentVersion(spark)) = content(sink.read(spark))
    sink.upsert(spark, batch("v0", 1L -> "a", 2L -> "a", 3L -> "b"), 0L); record()
    sink.upsert(spark, batch("v1", 2L -> "a", 4L -> "c"), 1L); record()
    sink.delete(spark, col("dt") === "b", 2L); record()
    sink.upsert(spark, batch("v3", 3L -> "b", 5L -> "a"), 3L); record()
    sink.compact(spark, 1024L * 1024 * 1024); record()
    sink.upsert(spark, batch("v5", 1L -> "a"), 4L); record()
    recorded.foreach { case (v, want) =>
      assert(content(sink.readVersion(spark, v)) === want,
        s"time travel to v$v diverged from the recorded state")
    }
    // compaction is a layout-only delta: empty change feed across it
    assert(sink.changeFeed(spark, 3L, 4L).count() === 0L)
  }

  test("time travel and CDC across a schema-WIDENING commit (the " +
      "full-table freeze path)") {
    val dir = tmpDir("phc") + "/t"
    val (sink, want, _) = committedTable(dir)
    // widening batch rewrites EVERY partition; with history on, that
    // commit freezes the entire pre-widening table
    sink.upsert(spark,
      batch("v2", 2L -> "a").withColumn("extra", lit(7L)), 2L)
    val head = sink.read(spark)
    assert(head.columns.contains("extra"))
    assert(head.filter(col("id") === 2L).select("extra")
      .first().getLong(0) === 7L)
    assert(head.filter(col("id") =!= 2L).select("extra")
      .collect().forall(_.isNullAt(0)), "pre-existing rows null-fill")
    // travel back across the widening: the frozen files carry the
    // narrow schema and exactly the old rows
    assert(content(sink.readVersion(spark, 1L)) === want)
    // the feed across the widening reports ONLY the real change:
    // to_json drops null fields, so a null-filled widened row
    // fingerprints identically to its narrow original
    val feed = sink.changeFeed(spark, 1L, 2L, withPreimages = true)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .count() === 1L)
    assert(feed.filter(col("_change_type")
      .isin("insert", "delete")).count() === 0L)
  }

  test("delta-built change feed reads ONLY the touched directories' " +
      "files — CDC cost is O(commit), not O(2 × table)") {
    val dir = tmpDir("phc") + "/t"
    val sink = new CrashSink(dir)
    // 8 partitions committed, then a commit touching exactly one
    sink.upsert(spark,
      batch("v0", (1 to 8).map(i => (i.toLong, s"d$i")): _*), 0L)
    sink.upsert(spark, batch("v1", 1L -> "d1", 99L -> "d1"), 1L)
    val feed = sink.changeFeed(spark, 0L, 1L, withPreimages = true)
    val files = feed.inputFiles.toSet
    assert(files.nonEmpty)
    assert(files.forall(_.contains("dt=d1")),
      s"feed over a dt=d1-only commit must scan only dt=d1 files " +
        s"(live + frozen), got:\n${files.mkString("\n")}")
    // and the feed content is still exact
    val rows = feed.collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("payload"))).toSet
    assert(rows === Set(("insert", 99L, "v1"),
      ("update_postimage", 1L, "v1"), ("update_preimage", 1L, "v0")))
    // time travel reads the frozen files IN PLACE under _history —
    // never a copied byte — alongside the untouched live directories
    val travel = sink.readVersion(spark, 0L)
    val tFiles = travel.inputFiles.toSet
    assert(tFiles.exists(_.contains("_history/v1/dt=d1")),
      s"v0's dt=d1 image must come from its frozen home, got $tFiles")
    assert(tFiles.count(_.contains("_history/")) ===
      tFiles.count(_.contains("_history/v1/dt=d1")),
      "only the replaced directory's files read from history")
    assert((2 to 8).forall(i => tFiles.exists(f =>
      f.contains(s"dt=d$i") && !f.contains("_history"))),
      "untouched directories read live")
  }
}
