package graft

import org.apache.spark.sql.functions._
import graft.operators.ParquetUpsertSink

/** DESCRIBE HISTORY / RESTORE analogs on the versioned upsert store:
  * operation+timestamp audit rows, zero-copy rollback via commit
  * re-reference, reference-counted GC of shared snapshot dirs, and
  * the replay guard surviving a restore.
  */
class HistoryRestoreSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(tag: String) = Seq(
    (1L, s"a-$tag"), (2L, s"b-$tag"), (3L, s"c-$tag")
  ).toDF("id", "payload")

  test("history records operation, timestamp and commit order, newest first") {
    val dir = tmpDir("hist") + "/t"
    val sink = new ParquetUpsertSink(dir, Seq("id"), retainVersions = 6)
    sink.upsert(spark, docs("v0"), batchId = 0)
    sink.upsert(spark, docs("v1"), batchId = 1)
    sink.delete(spark, col("id") === 3L, batchId = 2)
    sink.compact(spark)
    val h = sink.history(spark).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(3L, 2L, 1L, 0L))
    assert(h.map(_.getString(2)).toSeq ===
      Seq("compact", "delete", "upsert", "upsert"))
    assert(h.map(_.getLong(1)).toSeq === Seq(2L, 2L, 1L, 0L))
    // timestamps present and non-decreasing with version
    val ts = h.reverse.map(_.getTimestamp(3))
    assert(ts.forall(_ != null))
    assert(ts.sliding(2).forall(p => !p(0).after(p(1))))
    // every versioned commit names its snapshot dir
    assert(h.forall(r => r.getString(4) != null && r.getString(4).startsWith("v")))
  }

  test("restore rolls back to a retained version; CDC and replay guard follow") {
    val dir = tmpDir("hist") + "/t"
    val sink = new ParquetUpsertSink(dir, Seq("id"), retainVersions = 6)
    sink.upsert(spark, docs("orig"), batchId = 0)
    val v0 = sink.currentVersion(spark)
    sink.upsert(spark, docs("changed").filter(col("id") <= 2L), batchId = 1)
    sink.delete(spark, col("id") === 3L, batchId = 2)
    sink.restore(spark, v0)
    // content is exactly v0's again — the change feed across
    // (v0 → post-restore) is empty
    assert(sink.read(spark).collect().map(_.getString(1)).sorted.toSeq ===
      Seq("a-orig", "b-orig", "c-orig"))
    assert(sink.changesBetween(spark, v0, sink.currentVersion(spark))
      .count() === 0)
    assert(sink.history(spark).first().getString(2) === "restore")
    // the feed across the restore commit itself carries the
    // retractions/re-inserts a downstream consumer must apply
    val feed = sink.changeFeed(spark, sink.currentVersion(spark) - 1,
      sink.currentVersion(spark))
    assert(feed.filter(col("_change_type") === "insert").count() === 1) // id 3 back
    assert(feed.filter(col("_change_type") === "update_postimage")
      .count() === 2) // ids 1,2 back to orig
    // replay protection survives the rollback: batch 2 already seen
    val before = sink.read(spark).collect().toSet
    sink.upsert(spark, docs("replayed"), batchId = 2)
    assert(sink.read(spark).collect().toSet === before)
    // a genuinely new batch applies
    sink.upsert(spark, docs("fresh").filter(col("id") === 1L), batchId = 3)
    assert(sink.read(spark).filter(col("id") === 1L)
      .first().getString(1) === "a-fresh")
  }

  test("restore is zero-copy: the shared snapshot dir survives GC until unreferenced") {
    val dir = tmpDir("hist") + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirOf(version: Long, sink: ParquetUpsertSink): String =
      sink.history(spark).filter(col("version") === version)
        .first().getString(4)
    val sink = new ParquetUpsertSink(dir, Seq("id")) // retainVersions = 2
    sink.upsert(spark, docs("v0"), batchId = -1)
    val v0 = sink.currentVersion(spark)
    val v0dir = dirOf(v0, sink)
    sink.upsert(spark, docs("v1"), batchId = -1)
    sink.restore(spark, v0) // v2 re-references v0's dir; v0's commit ages out
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$v0dir")),
      "restored-to dir must survive its own version's GC")
    assert(sink.read(spark).collect().map(_.getString(1)).sorted.toSeq ===
      Seq("a-v0", "b-v0", "c-v0"))
    // one more commit: v2 (→ v0dir) still retained, dir survives
    sink.upsert(spark, docs("v3"), batchId = -1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$v0dir")))
    // and once no retained commit references it, it is reclaimed
    sink.upsert(spark, docs("v4"), batchId = -1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$v0dir")),
      "unreferenced dir must be GC'd")
    assert(sink.read(spark).collect().map(_.getString(1)).sorted.toSeq ===
      Seq("a-v4", "b-v4", "c-v4"))
  }

  test("partitioned restore: full roundtrip — content, " +
      "directories, history row, CDC, replay guard, time travel") {
    val dir = tmpDir("hist") + "/p"
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(sub: String) =
      hfs.exists(new org.apache.hadoop.fs.Path(dir, sub))
    val sink = new ParquetUpsertSink(dir, Seq("id"),
      partitionCol = Some("dt"), retainVersions = 6)
    def b(tag: String, ids: (Long, String)*) =
      ids.map { case (id, dt) => (id, dt, tag) }.toDF("id", "dt", "payload")
    def content() = sink.read(spark).select("id", "dt", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    sink.upsert(spark, b("v0", 1L -> "a", 2L -> "a", 3L -> "b"), 0L)
    val v0 = sink.currentVersion(spark)
    val want = content()
    sink.upsert(spark, b("v1", 2L -> "a", 4L -> "c"), 1L) // update + new dir
    sink.delete(spark, col("dt") === "b", 2L)             // empties dt=b
    val preRestoreHead = sink.currentVersion(spark)
    val preRestoreState = content()
    sink.restore(spark, v0)
    // content is exactly v0's again; emptied dirs are back, created
    // dirs are gone
    assert(content() === want)
    assert(exists("dt=b"), "a partition emptied since v0 must return")
    assert(!exists("dt=c"), "a partition created since v0 must vanish")
    assert(sink.history(spark).first().getString(2) === "restore")
    assert(sink.changesBetween(spark, v0, sink.currentVersion(spark))
      .count() === 0)
    // the restore commit's own feed carries what a consumer must apply
    val feed = sink.changeFeed(spark, preRestoreHead,
      sink.currentVersion(spark))
    assert(feed.filter(col("_change_type") === "insert").count() === 1)  // 3 back
    assert(feed.filter(col("_change_type") === "delete").count() === 1)  // 4 out
    assert(feed.filter(col("_change_type") === "update_postimage")
      .count() === 1) // 2 back to v0
    // time travel still reaches the pre-restore head THROUGH the
    // restore commit's actions
    assert(sink.readVersion(spark, preRestoreHead)
      .select("id", "dt", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ===
      preRestoreState)
    // scan over the restored table agrees (fresh manifests)
    assert(sink.scan(spark, col("dt") === "a").select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L))
    // replay guard survives (batch 2 seen), new batches apply
    sink.upsert(spark, b("replayed", 9L -> "a"), 2L)
    assert(content() === want)
    sink.upsert(spark, b("v4", 9L -> "a"), 3L)
    assert(content() === want + ((9L, "a", "v4")))
    // roll forward then back; then a restore targeting a version whose
    // state equals the current one takes the empty-delta marker path
    val headBefore = sink.currentVersion(spark)
    sink.upsert(spark, b("v5", 9L -> "a"), 4L)
    sink.restore(spark, headBefore)
    assert(content() === want + ((9L, "a", "v4")))
    val h2 = sink.currentVersion(spark)
    sink.restore(spark, headBefore) // identical state → marker commit
    assert(sink.currentVersion(spark) === h2 + 1)
    assert(content() === want + ((9L, "a", "v4")))
  }

  test("restore copy-back is identical at any task-slice count " +
      "(graft.upsert.restoreCopySlices)") {
    // the distributed copy job's slicing is a pure parallelism knob:
    // forced single-task and default-parallelism restores of the same
    // delta must produce byte-identical tables
    def roundtrip(slices: Option[String]): Set[(Long, String, String)] = {
      val dir = tmpDir("histsl") + "/p"
      val sink = new ParquetUpsertSink(dir, Seq("id"),
        partitionCol = Some("dt"), retainVersions = 6)
      def b(tag: String, ids: (Long, String)*) =
        ids.map { case (id, dt) => (id, dt, tag) }.toDF("id", "dt", "payload")
      sink.upsert(spark, b("v0", 1L -> "a", 2L -> "a", 3L -> "b"), 0L)
      sink.delete(spark, col("dt") === "a", 1L)
      slices.foreach(v =>
        spark.conf.set("graft.upsert.restoreCopySlices", v))
      try sink.restore(spark, 0L)
      finally spark.conf.unset("graft.upsert.restoreCopySlices")
      sink.read(spark).select("id", "dt", "payload").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    }
    val serial = roundtrip(Some("1"))
    val parallel = roundtrip(None)
    assert(serial === parallel)
    assert(serial === Set((1L, "a", "v0"), (2L, "a", "v0"),
      (3L, "b", "v0")))
  }

  test("a malformed restoreCopySlices fails the restore BEFORE any " +
      "mutation (clean no-op, no torn commit to recover)") {
    val dir = tmpDir("histbad") + "/p"
    val sink = new ParquetUpsertSink(dir, Seq("id"),
      partitionCol = Some("dt"), retainVersions = 6)
    def b(tag: String, ids: (Long, String)*) =
      ids.map { case (id, dt) => (id, dt, tag) }.toDF("id", "dt", "payload")
    sink.upsert(spark, b("v0", 1L -> "a", 2L -> "b"), 0L)
    sink.delete(spark, col("dt") === "a", 1L)
    val before = sink.read(spark).collect().map(_.toString).toSet
    spark.conf.set("graft.upsert.restoreCopySlices", "max")
    try intercept[NumberFormatException] { sink.restore(spark, 0L) }
    finally spark.conf.unset("graft.upsert.restoreCopySlices")
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.operators.PartitionedHistory.pendingVersions(hfs,
      new org.apache.hadoop.fs.Path(dir, "_commits"),
      Set(0L, 1L)).isEmpty,
      "the typo must not write an intent or freeze a file")
    assert(sink.read(spark).collect().map(_.toString).toSet === before)
    sink.restore(spark, 0L) // the corrected call completes
    assert(sink.read(spark).count() === 2L)
  }

  test("restore refuses unknown versions; the default partitioned " +
      "layout restores") {
    val dir = tmpDir("hist") + "/t"
    val sink = new ParquetUpsertSink(dir, Seq("id"))
    sink.upsert(spark, docs("v0"), batchId = -1)
    intercept[IllegalArgumentException] { sink.restore(spark, 99L) }
    val pdir = tmpDir("hist") + "/p"
    val psink = new ParquetUpsertSink(pdir, Seq("id"),
      partitionCol = Some("payload"))
    psink.upsert(spark, docs("v0"), batchId = -1)
    intercept[IllegalArgumentException] { psink.restore(spark, 99L) }
    def ids() = psink.read(spark).select("id").collect()
      .map(_.getLong(0)).toSet
    val v0 = ids()
    psink.delete(spark, col("id") === 1L, batchId = -1)
    assert(ids() === v0 - 1L)
    psink.restore(spark, 0L)
    assert(ids() === v0)
    assert(psink.history(spark).first().getString(2) === "restore")
  }

  test("restore to the current version is a no-op") {
    val dir = tmpDir("hist") + "/t"
    val sink = new ParquetUpsertSink(dir, Seq("id"))
    sink.upsert(spark, docs("v0"), batchId = -1)
    val v = sink.currentVersion(spark)
    sink.restore(spark, v)
    assert(sink.currentVersion(spark) === v)
  }
}
