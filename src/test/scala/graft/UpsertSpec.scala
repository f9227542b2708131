package graft

import org.apache.spark.sql.functions._
import graft.operators.{ParquetUpsertSink, Upsert}

/** The Delta-MERGE replacement: merge semantics, sink idempotence,
  * partition-granular rewrites.
  */
class UpsertSpec extends SparkTestBase {
  import spark.implicits._

  private def base = Seq(
    ("2024-01-01 10:00:00", "DRV001", 5L, 100.0),
    ("2024-01-01 10:00:00", "DRV002", 3L, 50.0),
    ("2024-01-01 11:00:00", "DRV001", 2L, 70.0)
  ).toDF("window_start", "driver_id", "total", "avg_fare")

  private def updates = Seq(
    ("2024-01-01 10:00:00", "DRV001", 9L, 120.0), // matched → update
    ("2024-01-01 12:00:00", "DRV003", 1L, 30.0)   // new → insert
  ).toDF("window_start", "driver_id", "total", "avg_fare")

  private val keys = Seq("window_start", "driver_id")

  test("merge: updates win on collision, base survives, inserts appear") {
    val m = Upsert.merge(base, updates, keys).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(m.size === 4)
    assert(m(("2024-01-01 10:00:00", "DRV001")) === ((9L, 120.0)))
    assert(m(("2024-01-01 10:00:00", "DRV002")) === ((3L, 50.0)))
    assert(m(("2024-01-01 11:00:00", "DRV001")) === ((2L, 70.0)))
    assert(m(("2024-01-01 12:00:00", "DRV003")) === ((1L, 30.0)))
  }

  test("merge is idempotent: applying the same updates twice = once") {
    val once = Upsert.merge(base, updates, keys)
    val twice = Upsert.merge(once, updates, keys)
    assert(once.except(twice).count() === 0 && twice.except(once).count() === 0)
  }

  test("merge: updates may add columns, base rows null-fill them") {
    val evolved = updates.withColumn("surge", lit(1.5))
    val m = Upsert.merge(base, evolved, keys)
    assert(m.columns.toSeq ===
      Seq("window_start", "driver_id", "total", "avg_fare", "surge"))
    val surge = m.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(r.fieldIndex("surge")))).toMap
    assert(surge(("2024-01-01 10:00:00", "DRV001")) === Some(1.5)) // updated
    assert(surge(("2024-01-01 11:00:00", "DRV001")) === None)      // old row
    assert(surge(("2024-01-01 12:00:00", "DRV003")) === Some(1.5)) // inserted
    // dropping a base column stays an error — that would lose data
    intercept[IllegalArgumentException] {
      Upsert.merge(base, updates.drop("avg_fare"), keys)
    }
  }

  test("sentinel batchId -1 skips replay protection, both calls apply") {
    val dir = tmpDir("upserts") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys)
    sink.upsert(spark, base, batchId = -1)
    assert(sink.read(spark).count() === 3)
    // a second -1 call must NOT be swallowed by the idempotence check
    // (the old batchId=0 default silently dropped the second call)
    sink.upsert(spark, updates, batchId = -1)
    assert(sink.read(spark).count() === 4)
    val m = sink.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("2024-01-01 10:00:00", "DRV001")) === 9L)
  }

  test("sentinel -1 commit does not lower the streaming replay high-water mark") {
    val dir = tmpDir("upsertw") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys)
    sink.upsert(spark, base, batchId = 0)
    sink.upsert(spark, updates, batchId = 1)
    // ad-hoc repairs between streaming commits — enough of them that
    // commit-log GC (keeps 2) drops every commit that recorded batch 1
    // directly; the mark must survive via carry-forward
    sink.upsert(spark, updates.withColumn("avg_fare", lit(1.0)), batchId = -1)
    sink.upsert(spark, updates.withColumn("avg_fare", lit(2.0)), batchId = -1)
    sink.upsert(spark, updates.withColumn("avg_fare", lit(3.0)), batchId = -1)
    // a crash-redelivered batch 1 must STILL be skipped — the guard
    // compares against the max non-negative committed batchId, not the
    // last commit's value (-1)
    sink.upsert(spark, updates.withColumn("total", lit(999L)), batchId = 1)
    val m = sink.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("2024-01-01 10:00:00", "DRV001")) === 9L,
      "redelivered batch re-applied after sentinel commit")
    // and a genuinely NEW batch still goes through
    sink.upsert(spark, updates.withColumn("total", lit(7L)), batchId = 2)
    val m2 = sink.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m2(("2024-01-01 10:00:00", "DRV001")) === 7L)
  }

  test("sink: create, merge, and batchId replay protection") {
    val dir = tmpDir("upsert") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys)
    sink.upsert(spark, base, batchId = 0)
    assert(sink.read(spark).count() === 3)
    sink.upsert(spark, updates, batchId = 1)
    assert(sink.read(spark).count() === 4)
    // replayed batch (crash-recovery path) must be a no-op
    sink.upsert(spark, updates.withColumn("total", lit(999L)), batchId = 1)
    val m = sink.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("2024-01-01 10:00:00", "DRV001")) === 9L)
  }

  test("versioned commits: crash before commit leaves old state visible") {
    val dir = tmpDir("upsertv") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys)
    sink.upsert(spark, base, batchId = 0)
    assert(sink.currentVersion(spark) === 0)
    // simulate a writer crash: new version data lands WITHOUT a commit
    base.limit(1).write.parquet(s"$dir/v1")
    assert(sink.currentVersion(spark) === 0, "uncommitted version visible")
    assert(sink.read(spark).count() === 3, "reader saw torn state")
    // a real upsert then commits v2 (v1 dir exists, so writer skips to
    // the next free slot? No — version = max COMMIT + 1 = 1; overwrite
    // of the orphaned dir is correct recovery)
    sink.upsert(spark, updates, batchId = 1)
    assert(sink.currentVersion(spark) === 1)
    assert(sink.read(spark).count() === 4)
  }

  test("old versions are garbage-collected, last two retained") {
    val dir = tmpDir("upsertg") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys)
    (0 to 4).foreach { i =>
      sink.upsert(spark, if (i == 0) base else updates, batchId = i)
    }
    assert(sink.currentVersion(spark) === 4)
    val dirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName).sorted
    // two snapshot dirs retained (v3-*, v4-*), older ones GC'd
    assert(dirs.length === 2 &&
      dirs.count(_.startsWith("v3-")) === 1 &&
      dirs.count(_.startsWith("v4-")) === 1,
      s"got ${dirs.mkString(",")}")
    assert(sink.read(spark).count() === 4)
  }

  test("compact rewrites the snapshot to fewer files, data unchanged") {
    val dir = tmpDir("upsertc") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys)
    sink.upsert(spark, base.repartition(8), batchId = 0)
    val before = sink.read(spark).collect().toSet
    sink.compact(spark)
    val v = sink.currentVersion(spark)
    val vDir = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(s"v$v-")).head
    val nParquet = vDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(nParquet === 1, s"expected 1 compacted file, got $nParquet")
    assert(sink.read(spark).collect().toSet === before)
    // batchId idempotence survives compaction
    sink.upsert(spark, updates.withColumn("total", lit(999L)), batchId = 0)
    assert(sink.read(spark).collect().toSet === before)
  }

  test("partitioned sink rewrites only touched partitions") {
    val dir = tmpDir("upsertp") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, Some("window_start"))
    sink.upsert(spark, base, batchId = 0)
    // the 11:00 partition is not in `updates` → must not be rewritten
    val p11 = new java.io.File(dir).listFiles()
      .find(f => f.isDirectory && f.getName.contains("11")).get
    val before = p11.listFiles().map(f => f.getName -> f.lastModified).toMap
    sink.upsert(spark, updates, batchId = 1)
    val after = p11.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before === after, "untouched partition was rewritten")
    // and the merged table is correct (partition col reads back last)
    val got = sink.read(spark)
      .select(col("window_start").cast("string"), col("driver_id"),
        col("total"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got.size === 4)
    assert(got(("2024-01-01 10:00:00", "DRV001")) === 9L)
    assert(got(("2024-01-01 11:00:00", "DRV001")) === 2L)
  }

  test("versioned sink: losing a version race re-merges against the winner") {
    val dir = tmpDir("upsertcas") + "/gold"
    // the winner's state: base with DRV002's total changed — if the
    // loser blindly re-used its pre-race merge, this change would
    // vanish; surviving it proves the retry re-merged
    val winnerData = base.withColumn("total",
      when(col("driver_id") === "DRV002", lit(42L)).otherwise(col("total")))
    val sink: ParquetUpsertSink = new ParquetUpsertSink(dir, keys) {
      var injected = false
      override protected def beforeCommit(v: Long): Unit =
        if (v == 1 && !injected) {
          injected = true
          winnerData.write.mode("overwrite").parquet(s"$dir/v1-winner")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/_commits/1"),
            "7 v1-winner".getBytes("UTF-8"))
        }
    }
    sink.upsert(spark, base, batchId = 0) // v0
    sink.upsert(spark, updates, batchId = 8) // loses v1 to the winner, retries
    assert(sink.currentVersion(spark) === 2L)
    assert(sink.lastBatchId(spark) === 8L)
    val got = sink.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("2024-01-01 10:00:00", "DRV002")) === 42L,
      "winner's change was clobbered — loser did not re-merge")
    assert(got(("2024-01-01 10:00:00", "DRV001")) === 9L) // our update
    assert(got(("2024-01-01 12:00:00", "DRV003")) === 1L) // our insert
  }

  test("partitioned sink: an external writer bypassing the lock is detected, not silent") {
    // same-protocol writers serialize on the writer lock (stress test
    // below); this pins the BACKSTOP — a foreign writer that commits
    // directly, without the lock, must surface as a conflict
    val dir = tmpDir("upsertcasp") + "/gold"
    val sink: ParquetUpsertSink =
      new ParquetUpsertSink(dir, keys, Some("window_start")) {
        var injected = false
        override protected def beforeCommit(v: Long): Unit =
          if (v == 1 && !injected) {
            injected = true
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$dir/_commits/1"),
              "7".getBytes("UTF-8"))
          }
      }
    sink.upsert(spark, base, batchId = 0)
    // in-place partition rewrites cannot be rolled back, so the sink
    // must surface the conflict rather than pretend the claim worked
    intercept[java.util.ConcurrentModificationException] {
      sink.upsert(spark, updates, batchId = 8)
    }
  }

  test("partitioned sink: delete rewrites only touched partitions, drops emptied ones") {
    val dir = tmpDir("upsertdelp") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, Some("window_start"))
    sink.upsert(spark, base, batchId = 0)
    val f = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    def partFiles(part: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/window_start=$part")
      if (!f.exists(p)) Map.empty[String, Long]
      else f.listStatus(p).filter(_.isFile)
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    }
    val untouchedBefore = partFiles("2024-01-01 11%3A00%3A00")
    assert(untouchedBefore.nonEmpty, "fixture: 11:00 partition must exist")
    // one row of the 10:00 partition matches; the 11:00 partition has
    // no match and must not be read back differently or rewritten
    sink.delete(spark, col("driver_id") === "DRV002", batchId = 1)
    val got = sink.read(spark).collect()
      .map(r => r.getAs[String]("driver_id") -> r.getAs[Long]("total")).toSet
    assert(got === Set("DRV001" -> 5L, "DRV001" -> 2L),
      s"unexpected survivors: $got")
    assert(partFiles("2024-01-01 11%3A00%3A00") === untouchedBefore,
      "untouched partition's files were rewritten")
    // now empty the whole 11:00 partition: its DIRECTORY must go —
    // dynamic overwrite alone would leave the old files resurrected
    sink.delete(spark,
      col("window_start") === "2024-01-01 11:00:00", batchId = 2)
    assert(partFiles("2024-01-01 11%3A00%3A00").isEmpty,
      "fully-emptied partition directory must be dropped")
    assert(sink.read(spark).count() === 1L)
    // replay of a seen batchId is a no-op
    sink.delete(spark, lit(true), batchId = 2)
    assert(sink.read(spark).count() === 1L)
    // NULL predicate verdicts KEEP rows (SQL three-valued semantics)
    sink.delete(spark,
      when(col("driver_id") === "DRV001", lit(null).cast("boolean")),
      batchId = 3)
    assert(sink.read(spark).count() === 1L)
  }

  test("partitioned sink: true concurrent writers serialize on the writer lock") {
    // the versioned layout's stress twin, on the layout where
    // optimistic retry is UNSOUND (in-place overwrite of shared
    // partition files): W real threads target the SAME partition; the
    // writer lock must serialize them so every writer's key survives
    // and the commit log advances once per writer
    val dir = tmpDir("upsertconcp") + "/gold"
    val writers = 5
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(writers))
    try {
      val fs = (0 until writers).map { w =>
        Future {
          val sink = new ParquetUpsertSink(dir, keys, Some("window_start"))
          val rows = Seq(("2024-01-01 10:00:00", f"DRVP$w%02d",
            w.toLong, w * 1.0))
            .toDF("window_start", "driver_id", "total", "avg_fare")
          sink.upsert(spark, rows, batchId = -1)
        }(pool)
      }
      fs.foreach(Await.result(_, Duration("180s")))
    } finally pool.shutdown()
    val reader = new ParquetUpsertSink(dir, keys, Some("window_start"))
    val got = reader.read(spark).collect()
      .map(r => r.getAs[String]("driver_id") -> r.getAs[Long]("total")).toMap
    assert(got === (0 until writers)
      .map(w => f"DRVP$w%02d" -> w.toLong).toMap,
      s"lost update on the partitioned layout: $got")
    assert(reader.currentVersion(spark) === writers - 1L)
    // the lock is released, not leaked: a follow-up writer proceeds
    val follow = new ParquetUpsertSink(dir, keys, Some("window_start"))
    follow.upsert(spark, Seq(("2024-01-01 10:00:00", "DRVP99", 9L, 9.0))
      .toDF("window_start", "driver_id", "total", "avg_fare"), batchId = -1)
    assert(follow.read(spark).count() === writers + 1L)
  }

  test("history-keeping partitioned sink: concurrent writers serialize, " +
      "every intermediate version stays reconstructible") {
    // the stress twin with a deeper retention window: serialized
    // writers must leave a replayable actions chain — after the storm,
    // every retained version time-travels to a state that is a
    // prefix-merge of the writers that had committed by then
    val dir = tmpDir("upsertconch") + "/gold"
    val writers = 5
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(writers))
    try {
      val fs = (0 until writers).map { w =>
        Future {
          val sink = new ParquetUpsertSink(dir, keys,
            Some("window_start"), retainVersions = 8)
          val rows = Seq(("2024-01-01 10:00:00", f"DRVH$w%02d",
            w.toLong, w * 1.0))
            .toDF("window_start", "driver_id", "total", "avg_fare")
          sink.upsert(spark, rows, batchId = -1)
        }(pool)
      }
      fs.foreach(Await.result(_, Duration("180s")))
    } finally pool.shutdown()
    val reader = new ParquetUpsertSink(dir, keys, Some("window_start"),
      retainVersions = 8)
    val got = reader.read(spark).collect()
      .map(r => r.getAs[String]("driver_id") -> r.getAs[Long]("total")).toMap
    assert(got === (0 until writers)
      .map(w => f"DRVH$w%02d" -> w.toLong).toMap,
      s"lost update under history mode: $got")
    assert(reader.currentVersion(spark) === writers - 1L)
    // every retained version reconstructs, row counts grow by one per
    // commit (each writer added one distinct key), and each version's
    // keys are a subset of the next's
    val states = (0L until writers.toLong).map { v =>
      reader.readVersion(spark, v).collect()
        .map(_.getAs[String]("driver_id")).toSet
    }
    states.zipWithIndex.foreach { case (s, i) =>
      assert(s.size === i + 1, s"v$i should hold ${i + 1} rows, got $s")
    }
    states.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), "version chain must be monotone")
    }
  }

  test("history GC: versions past retainVersions lose their frozen " +
      "sets and fail reconstruction LOUDLY") {
    val dir = tmpDir("upserthgc") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, Some("window_start"),
      retainVersions = 2)
    (0 until 4).foreach { i =>
      sink.upsert(spark,
        Seq(("2024-01-01 10:00:00", f"DRV$i%02d", i.toLong, i * 1.0))
          .toDF("window_start", "driver_id", "total", "avg_fare"),
        batchId = i.toLong)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only the retained window's frozen sets survive
    (0 until 2).foreach { v =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/_history/v$v")), s"v$v frozen set should be GC'd")
      val e = intercept[IllegalArgumentException] {
        sink.readVersion(spark, v.toLong).collect()
      }
      assert(e.getMessage.contains("not available"))
    }
    // the retained non-head version still travels
    assert(sink.readVersion(spark, 2L).count() === 3L)
    assert(sink.readVersion(spark, 3L).count() === 4L)
  }

  test("a partitioned table whose early commits have no actions record " +
      "stays writable; only travel into those versions fails loudly") {
    val dir = tmpDir("upsertlegacy") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, Some("window_start"),
      retainVersions = 6)
    sink.upsert(spark, base, batchId = 0)
    sink.upsert(spark, updates, batchId = 1)
    // v0 and v1 as a writer without history left them: no actions
    // records, no frozen files
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 1).foreach(v => assert(f.delete(
      new org.apache.hadoop.fs.Path(s"$dir/_commits/actions-$v.json"), false)))
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/_history"), true)
    def state(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window_start").cast("string"), col("driver_id"),
        col("total"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val atV1 = state(sink.read(spark))
    // upserts still work, and the versions they write travel
    sink.upsert(spark, Seq(("2024-01-01 13:00:00", "DRV004", 4L, 40.0))
      .toDF("window_start", "driver_id", "total", "avg_fare"), batchId = 2)
    val atV2 = state(sink.read(spark))
    sink.upsert(spark, Seq(("2024-01-01 10:00:00", "DRV002", 8L, 80.0))
      .toDF("window_start", "driver_id", "total", "avg_fare"), batchId = 3)
    assert(sink.currentVersion(spark) === 3L)
    assert(state(sink.read(spark)) ===
      atV2 - (("2024-01-01 10:00:00", "DRV002", 3L)) +
        (("2024-01-01 10:00:00", "DRV002", 8L)))
    assert(state(sink.readVersion(spark, 2L)) === atV2)
    // v1 is reached through v2's and v3's records alone
    assert(state(sink.readVersion(spark, 1L)) === atV1)
    val feed = sink.changeFeed(spark, 2L, 3L).collect()
      .map(r => (r.getAs[String]("driver_id"),
        r.getAs[String]("_change_type"))).toSet
    assert(feed === Set(("DRV002", "update_postimage")))
    // v0 needs v1's missing record: travel and the feed fail loudly
    val travel = intercept[IllegalArgumentException] {
      sink.readVersion(spark, 0L).collect()
    }
    assert(travel.getMessage.contains("not reconstructible") &&
      travel.getMessage.contains("without history"), travel.getMessage)
    val cdc = intercept[IllegalArgumentException] {
      sink.changeFeed(spark, 0L, 3L).collect()
    }
    assert(cdc.getMessage.contains("not reconstructible"), cdc.getMessage)
    intercept[IllegalArgumentException] {
      sink.changesBetween(spark, 0L, 2L).collect()
    }
  }

  test("partitioned sink: losing the v0 create race preserves the winner") {
    // the old first-batch STATIC overwrite deleted the whole path —
    // including a concurrent winner's committed data and the commit
    // log itself — making the v0 race silently destructive instead of
    // detected. The dynamic-overwrite create must leave the winner's
    // commit intact and surface the conflict.
    val dir = tmpDir("upsertv0") + "/gold"
    val sink: ParquetUpsertSink =
      new ParquetUpsertSink(dir, keys, Some("window_start")) {
        var injected = false
        override protected def beforeWrite(v: Long): Unit =
          if (v == 0 && !injected) {
            injected = true
            // a concurrent EXTERNAL writer (bypassing the writer lock
            // the outer sink holds) creates AND commits v0 first
            new ParquetUpsertSink(dir, keys, Some("window_start")) {
              override protected def writerLockEnabled: Boolean = false
            }.upsert(spark, updates, batchId = 7)
          }
      }
    intercept[java.util.ConcurrentModificationException] {
      sink.upsert(spark, base, batchId = 0)
    }
    val reader = new ParquetUpsertSink(dir, keys, Some("window_start"))
    assert(reader.lastBatchId(spark) === 7,
      "winner's commit must survive the loser's create")
    val drv3 = reader.read(spark)
      .filter(col("driver_id") === "DRV003").collect()
    assert(drv3.length === 1 && drv3(0).getAs[Long]("total") === 1L,
      s"winner's data must survive the loser's create: ${drv3.toSeq}")
  }

  test("true concurrent writers: every upsert survives via CAS re-merge retries") {
    // The injected-fault races above pin individual interleavings;
    // this drives REAL threads at one table. CAS guarantees progress
    // (a failed claim means another writer committed), so with W
    // writers the unluckiest one needs ≤ W attempts — within the
    // sink's retry budget for W = 5. Every writer's keys must appear
    // in the final snapshot: a lost update means a re-merge retried
    // against a stale base.
    val dir = tmpDir("upsertconc") + "/gold"
    val writers = 5
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(writers))
    try {
      val fs = (0 until writers).map { w =>
        Future {
          val sink = new ParquetUpsertSink(dir, keys,
            retainVersions = writers + 2)
          val rows = Seq(("2024-01-01 10:00:00", f"DRVC$w%02d",
            w.toLong, w * 1.0))
            .toDF("window_start", "driver_id", "total", "avg_fare")
          sink.upsert(spark, rows, batchId = -1) // ad-hoc sentinel
        }(pool)
      }
      fs.foreach(Await.result(_, Duration("180s")))
    } finally pool.shutdown()
    val reader = new ParquetUpsertSink(dir, keys,
      retainVersions = writers + 2)
    val got = reader.read(spark).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got === (0 until writers)
      .map(w => f"DRVC$w%02d" -> w.toLong).toMap,
      s"lost update under concurrent writers: $got")
    // one committed version per writer, all serialized
    assert(reader.currentVersion(spark) === writers - 1L)
  }

  test("vacuum reclaims crashed-writer orphan snapshots, keeps every referenced one") {
    val dir = tmpDir("upsertvac") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, retainVersions = 3)
    sink.upsert(spark, base, batchId = 0)
    sink.upsert(spark, updates, batchId = 1)
    val f = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    def dirs() = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val before = dirs()
    // a writer that died between snapshot write and claim
    base.write.mode("overwrite").parquet(s"$dir/v7-deadbeef")
    assert(sink.vacuum(spark, olderThanMs = 0L) === Seq("v7-deadbeef"))
    assert(dirs() === before, "vacuum touched a referenced snapshot")
    // both retained versions still read
    assert(sink.readVersion(spark, 0).count() === 3L)
    assert(sink.readVersion(spark, 1).count() === 4L)
    // fresh orphans survive the default age horizon (in-flight writer)
    base.write.mode("overwrite").parquet(s"$dir/v8-cafebabe")
    assert(sink.vacuum(spark).isEmpty)
    // partitioned layout: no snapshot dirs, vacuum is a no-op
    val pdir = tmpDir("upsertvacp") + "/gold"
    val psink = new ParquetUpsertSink(pdir, keys, Some("window_start"))
    psink.upsert(spark, base, batchId = 0)
    assert(psink.vacuum(spark, olderThanMs = 0L).isEmpty)
  }

  test("time travel: readVersion returns historical snapshots within retention") {
    val dir = tmpDir("upserttt") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, retainVersions = 3)
    sink.upsert(spark, base, batchId = 0)
    sink.upsert(spark, updates, batchId = 1)
    // v0 = base as written; v1 = merged
    val v0 = sink.readVersion(spark, 0).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(v0(("2024-01-01 10:00:00", "DRV001")) === 5L &&
      !v0.contains(("2024-01-01 12:00:00", "DRV003")),
      s"v0 must be the pre-merge snapshot: $v0")
    val v1 = sink.readVersion(spark, 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(v1(("2024-01-01 10:00:00", "DRV001")) === 9L &&
      v1(("2024-01-01 12:00:00", "DRV003")) === 1L)
    // default retention (2) would have GC'd v0 after the second commit
    val sink2 = new ParquetUpsertSink(tmpDir("upserttt2") + "/gold", keys)
    sink2.upsert(spark, base, batchId = 0)
    sink2.upsert(spark, updates, batchId = 1)
    sink2.upsert(spark, updates, batchId = 2) // no-op rows, new version? replay-guarded
    intercept[IllegalArgumentException] { sink2.readVersion(spark, 0) }
  }

  test("changesBetween yields exactly the new and changed rows") {
    val dir = tmpDir("upsertcdc") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, retainVersions = 3)
    sink.upsert(spark, base, batchId = 0)
    sink.upsert(spark, updates, batchId = 1)
    val delta = sink.changesBetween(spark, 0, 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // DRV001 changed (5 -> 9), DRV003 is new (1); every unchanged row
    // must be absent — that absence is the entire point of the op
    assert(delta === Map(
      ("2024-01-01 10:00:00", "DRV001") -> 9L,
      ("2024-01-01 12:00:00", "DRV003") -> 1L),
      s"unexpected delta: $delta")
    // self-diff is empty; inverted range is refused
    assert(sink.changesBetween(spark, 1, 1).isEmpty)
    intercept[IllegalArgumentException] {
      sink.changesBetween(spark, 1, 0)
    }
  }

  test("delete retracts matching rows in a new committed version") {
    val dir = tmpDir("upsertdel") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, retainVersions = 3)
    sink.upsert(spark, base, batchId = 0)
    sink.delete(spark, col("driver_id") === "DRV002", batchId = 1)
    val now = sink.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(!now.exists(_._2 == "DRV002") && now.size === 2,
      s"DRV002 must be gone, others intact: $now")
    // the retraction is a new version; time travel still sees the row
    assert(sink.currentVersion(spark) === 1L)
    assert(sink.readVersion(spark, 0).filter(col("driver_id") === "DRV002")
      .count() === 1L)
    // replay of the same batchId is a no-op (no empty new version)
    sink.delete(spark, col("driver_id") === "DRV001", batchId = 1)
    assert(sink.currentVersion(spark) === 1L &&
      sink.read(spark).filter(col("driver_id") === "DRV001").count() === 2L)
    // partitioned layout (r10: supported under the writer lock) —
    // deleting from an empty/uncommitted table is a quiet no-op
    new ParquetUpsertSink(tmpDir("upsertdelpx") + "/g", keys,
      partitionCol = Some("window_start"))
      .delete(spark, lit(true), batchId = -1)
  }

  test("delete with a NULL predicate verdict keeps the row (SQL semantics)") {
    // SQL/Delta DELETE retracts only pred=TRUE rows; a NULL verdict is
    // a keep. A naive filter(!pred) would treat NULL as "delete" and
    // silently retract every null-valued row.
    val dir = tmpDir("upsertdelnull") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, retainVersions = 3)
    val withNull = Seq(
      ("2024-01-01 10:00:00", "DRV001", Some("bad"), 1L),
      ("2024-01-01 10:00:00", "DRV002", None, 2L),
      ("2024-01-01 10:00:00", "DRV003", Some("ok"), 3L)
    ).toDF("window_start", "driver_id", "status", "total")
    sink.upsert(spark, withNull, batchId = 0)
    sink.delete(spark, col("status") === "bad", batchId = 1)
    val left = sink.read(spark).select("driver_id").as[String].collect().toSet
    assert(left === Set("DRV002", "DRV003"),
      s"null-status DRV002 must survive the delete: $left")
  }

  test("changeFeed classifies inserts, updates, and deletes") {
    val dir = tmpDir("upsertcdf") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, retainVersions = 4)
    sink.upsert(spark, base, batchId = 0)
    sink.upsert(spark, updates, batchId = 1)            // v1: update + insert
    sink.delete(spark, col("driver_id") === "DRV002", batchId = 2) // v2
    val feed = sink.changeFeed(spark, 0, 2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(r.fieldIndex("_change_type")), r.getLong(2))).toMap
    assert(feed === Map(
      ("2024-01-01 10:00:00", "DRV001") -> (("update_postimage", 9L)),
      ("2024-01-01 12:00:00", "DRV003") -> (("insert", 1L)),
      ("2024-01-01 10:00:00", "DRV002") -> (("delete", 3L))),
      s"unexpected feed: $feed")
    // a row updated then deleted inside the range is a pure delete
    val feed2 = sink.changeFeed(spark, 1, 2).collect()
      .map(r => (r.getString(1), r.getString(r.fieldIndex("_change_type"))))
    assert(feed2.toSeq === Seq(("DRV002", "delete")), s"got: ${feed2.toSeq}")
    // self-diff is empty
    assert(sink.changeFeed(spark, 2, 2).isEmpty)
  }

  test("clustered compaction: each output file covers a disjoint key range") {
    val dir = tmpDir("upsertclu") + "/gold"
    val sink = new ParquetUpsertSink(dir, Seq("k"))
    val rows = spark.range(10000).select(
      // write in scrambled order so coalesce would leave every file
      // spanning the whole key range
      (col("id") * 2654435761L % 10000L).as("k"),
      col("id").as("v"))
    sink.upsert(spark, rows.repartition(8), batchId = 0)
    sink.compact(spark, targetFileBytes = 64 * 1024, clusterBy = Seq("k"))
    val perFile = sink.read(spark)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length > 1, "compaction must produce multiple files")
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2,
          s"file ranges overlap: $hi1 > $lo2 in ${perFile.toSeq}")
      case _ =>
    }
    // row count preserved
    assert(sink.read(spark).count() === 10000L)
  }

  test("torn commit file is self-healed, not a permanent wedge") {
    // a writer that died between creating and writing _commits/<v>
    // (non-atomic-rename stores) leaves an unparseable file; commits()
    // skips it, so every later writer recomputes the same version —
    // the claim must heal the debris instead of losing to it forever
    val dir = tmpDir("upserttorn") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys)
    sink.upsert(spark, base, batchId = 0)
    val v1 = java.nio.file.Paths.get(s"$dir/_commits/1")
    java.nio.file.Files.write(v1, Array.emptyByteArray) // torn: empty
    sink.upsert(spark, updates, batchId = 1)
    val got = sink.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.size === 4 &&
      got(("2024-01-01 10:00:00", "DRV001")) === 9L,
      s"upsert after torn commit must land: $got")
    assert(new String(java.nio.file.Files.readAllBytes(v1), "UTF-8")
      .trim.startsWith("1"), "healed commit must carry the batch id")
  }

  test("a sink handle reused after its table is deleted and re-created " +
    "reads the new table, never the dead one's cached commits") {
    val dir = tmpDir("upsertrecreate") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys)
    sink.upsert(spark, base, batchId = 0)
    sink.upsert(spark, updates, batchId = 1)
    assert(sink.read(spark).count() === 4)
    // another process deletes the table and re-creates it at the SAME
    // path: versions 0 and 1 are re-issued with different content
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val other = new ParquetUpsertSink(dir, keys)
    other.upsert(spark, updates, batchId = 0)
    other.upsert(spark, updates.withColumn("total", lit(5L)), batchId = 1)
    def totals(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = Map(("2024-01-01 10:00:00", "DRV001") -> 5L,
      ("2024-01-01 12:00:00", "DRV003") -> 5L)
    assert(sink.currentVersion(spark) === 1L)
    assert(totals(sink.read(spark)) === want,
      "the reused handle served the dead table's commits")
    assert(totals(sink.readVersion(spark, 0)).values.toSet === Set(9L, 1L))
    assert(sink.history(spark).collect().map(_.getString(4)).toSet ===
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("v"))
        .map(_.getName).toSet)
    // and the handle's own writes continue the new log
    sink.upsert(spark, base, batchId = 1) // replay of the NEW table's batch
    assert(totals(sink.read(spark)) === want)
    sink.upsert(spark, base, batchId = 2)
    assert(sink.currentVersion(spark) === 2L)
    assert(sink.read(spark).count() === 4)
  }

  test("partitioned sink: schema-widening batch rewrites ALL partitions") {
    val dir = tmpDir("upsertpw") + "/gold"
    val sink = new ParquetUpsertSink(dir, keys, Some("window_start"))
    sink.upsert(spark, base, batchId = 0)
    // updates carry a NEW column: a touched-only rewrite would leave
    // the untouched 11:00 partition's files on the narrow schema,
    // making the evolved column's visibility depend on footer sampling
    val widened = updates.withColumn("surge", lit(1.5))
    sink.upsert(spark, widened, batchId = 1)
    val got = sink.read(spark)
    assert(got.columns.contains("surge"), "evolved column missing")
    val byKey = got
      .select(col("window_start").cast("string"), col("driver_id"),
        col("surge"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double]))
      .toMap
    assert(byKey.size === 4)
    assert(byKey(("2024-01-01 10:00:00", "DRV001")) === Some(1.5))
    // pre-existing rows read the evolved column as null DETERMINISTICALLY
    assert(byKey(("2024-01-01 11:00:00", "DRV001")) === None)
    assert(byKey(("2024-01-01 10:00:00", "DRV002")) === None)
    // every partition's files now carry the widened schema: reading any
    // single partition directory alone must yield the evolved column
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("window_start="))
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val one = spark.read.parquet(p.getAbsolutePath)
      assert(one.columns.contains("surge"),
        s"partition ${p.getName} still on the narrow schema")
    }
  }

  test("autoCompact bounds the snapshot's file count hands-free") {
    import graft.operators.AutoCompact
    val dir = tmpDir("upserts") + "/auto"
    val sink = new ParquetUpsertSink(dir, Seq("k"),
      autoCompact = Some(AutoCompact(files = 4, clusterBy = Seq("k"))))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def currentFiles(): Int = {
      val d = sink.history(spark).first().getString(4)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$d"))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
    val wide = spark.range(200).toDF("k")
      .withColumn("v", col("k") * 10).repartition(8)
    sink.upsert(spark, wide, batchId = 0)
    // the 8-file upsert triggered an immediate compaction commit
    val ops = sink.history(spark).collect().map(_.getString(2)).toSeq
    assert(ops === Seq("compact", "upsert"), s"history: $ops")
    assert(currentFiles() <= 4, s"still ${currentFiles()} files")
    assert(sink.read(spark).count() === 200)
    // a small batch does not trigger (no churn when within budget)
    sink.upsert(spark, spark.range(5).toDF("k")
      .withColumn("v", lit(-1L)).repartition(2), batchId = 1)
    assert(sink.history(spark).first().getString(2) === "upsert")
    assert(sink.read(spark).filter(col("v") === -1L).count() === 5)
    // merge parallelism (4 shuffle partitions here) stays within the
    // budget; data intact either way
    assert(sink.read(spark).count() === 200)
  }

  test("compact consolidates fragmented partition dirs in place") {
    val dir = tmpDir("upserts") + "/pcompact"
    val sink = new ParquetUpsertSink(dir, Seq("k"),
      partitionCol = Some("day"))
    val df = spark.range(400).toDF("k")
      .withColumn("day", when(col("k") < 200, lit("a")).otherwise(lit("b")))
      .withColumn("v", col("k") * 3)
      .repartition(8) // every task holds both days → ~8 files per dir
    sink.upsert(spark, df, batchId = 0)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesIn(day: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/day=$day"))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(filesIn("a") > 1 && filesIn("b") > 1, "fixture not fragmented")
    val rewritten = sink.compact(spark,
      targetFileBytes = 1L << 40)
    assert(rewritten.toSet === Set("day=a", "day=b"))
    assert(filesIn("a") === 1 && filesIn("b") === 1,
      s"still ${filesIn("a")}/${filesIn("b")} files")
    // content intact, stats manifests refreshed → pruning + parity
    assert(sink.read(spark).count() === 400)
    assert(sink.read(spark).agg(sum(col("v"))).first().getLong(0) ===
      (0L until 400L).map(_ * 3).sum)
    val (kept, total) = sink.scanFileCounts(spark, col("day") === "a")
    assert(total === 2 && kept === 1)
    val pred = col("k") === 123L
    assert(sink.scan(spark, pred).collect().map(_.toString).sorted.toSeq ===
      sink.read(spark).filter(pred).collect().map(_.toString).sorted.toSeq)
    // idempotent: nothing left over budget
    assert(sink.compact(spark, targetFileBytes = 1L << 40).isEmpty)
  }

  test("compact: maxBytesPerRun bounds each round, same final layout") {
    val dir = tmpDir("upserts") + "/pchunk"
    val sink = new ParquetUpsertSink(dir, Seq("k"),
      partitionCol = Some("day"))
    val df = spark.range(800).toDF("k")
      .withColumn("day", concat(lit("d"), pmod(col("k"), lit(4L)).cast("string")))
      .withColumn("v", col("k") * 7)
      .repartition(6) // every task holds all four days → ~6 files per dir
    sink.upsert(spark, df, batchId = 0)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesIn(day: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/day=$day"))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    (0 until 4).foreach(i =>
      assert(filesIn(s"d$i") > 1, s"fixture dir d$i not fragmented"))
    // a 1-byte budget forces EVERY eligible dir into its own rewrite
    // round (the at-least-one-dir-per-group rule keeps progress) — the
    // outcome must equal the unbounded single-round run's
    val rewritten = sink.compact(spark, targetFileBytes = 1L << 40,
      maxBytesPerRun = Some(1L))
    assert(rewritten.toSet === (0 until 4).map(i => s"day=d$i").toSet)
    (0 until 4).foreach(i =>
      assert(filesIn(s"d$i") === 1, s"d$i still ${filesIn(s"d$i")} files"))
    assert(sink.read(spark).count() === 800)
    assert(sink.read(spark).agg(sum(col("v"))).first().getLong(0) ===
      (0L until 800L).map(_ * 7).sum)
    // stats manifests refreshed per round: pruning + parity intact
    val pred = col("k") === 123L
    assert(sink.scan(spark, pred).collect().map(_.toString).sorted.toSeq ===
      sink.read(spark).filter(pred).collect().map(_.toString).sorted.toSeq)
    // idempotent: nothing left over budget
    assert(sink.compact(spark, targetFileBytes = 1L << 40,
      maxBytesPerRun = Some(1L)).isEmpty)
  }

  test("autoCompact on the partitioned layout consolidates fragmented dirs hands-free") {
    import graft.operators.AutoCompact
    val dir = tmpDir("upserts") + "/pauto"
    val sink = new ParquetUpsertSink(dir, Seq("k"),
      partitionCol = Some("day"),
      autoCompact = Some(AutoCompact(files = 3)))
    val df = spark.range(400).toDF("k")
      .withColumn("day", when(col("k") < 200, lit("a")).otherwise(lit("b")))
      .withColumn("v", col("k") * 2)
      .repartition(8) // 8 files per dir — over the 3-file budget
    sink.upsert(spark, df, batchId = 0)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesIn(day: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/day=$day"))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    // the over-budget upsert triggered per-partition compaction inside
    // the same writer-lock hold — no operator intervention
    assert(filesIn("a") === 1 && filesIn("b") === 1,
      s"still ${filesIn("a")}/${filesIn("b")} files")
    assert(sink.read(spark).count() === 400)
    // an in-budget follow-up batch does not churn
    sink.upsert(spark, df.filter(col("k") < 2L)
      .withColumn("v", lit(-5L)).coalesce(1), batchId = 1)
    assert(sink.read(spark).filter(col("v") === -5L).count() === 2)
    assert(sink.read(spark).count() === 400)
  }

  test("autoCompact honors maxBytesPerRun: a fragmented hands-free " +
      "compaction splits into bounded rounds") {
    import graft.operators.AutoCompact
    val dir = tmpDir("upserts") + "/pautochunk"
    // each compaction round is its own recorded commit — the round
    // count is then directly observable: a 1-byte
    // budget must put each of the three fragmented dirs in its own
    // round (3 commits after the upsert's), where the unbounded path
    // would take one
    val sink = new ParquetUpsertSink(dir, Seq("k"),
      partitionCol = Some("day"), retainVersions = 8,
      autoCompact = Some(AutoCompact(files = 3,
        maxBytesPerRun = Some(1L))))
    val df = spark.range(600).toDF("k")
      .withColumn("day", concat(lit("d"), pmod(col("k"), lit(3L)).cast("string")))
      .withColumn("v", col("k") * 5)
      .repartition(8) // ~8 files per dir — over the 3-file budget
    sink.upsert(spark, df, batchId = 0)
    assert(sink.currentVersion(spark) === 3L,
      "upsert v0 + one bounded compaction round per fragmented dir")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until 3).foreach { i =>
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/day=d$i"))
        .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      assert(n === 1, s"day=d$i still $n files")
    }
    assert(sink.read(spark).count() === 600)
    assert(sink.read(spark).agg(sum(col("v"))).first().getLong(0) ===
      (0L until 600L).map(_ * 5).sum)
  }

  test("upsert evaluates its updates exactly once per call: both layouts, " +
      "the replay skip, and a caller-cached input that stays cached") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    val rowsSeen = spark.sparkContext.longAccumulator("upsert-input-rows")
    // each evaluation of the returned DataFrame adds its row count
    def counted(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd.map { r => rowsSeen.add(1); r }, df.schema)
    def assertOnePass(sink: ParquetUpsertSink, df: DataFrame, batchId: Long,
                      callerCached: Boolean = false): Unit = {
      val in = counted(df)
      if (callerCached) in.persist()
      rowsSeen.reset()
      sink.upsert(spark, in, batchId)
      assert(rowsSeen.value === df.count(),
        s"batch $batchId: updates evaluated ${rowsSeen.value} rows, " +
          s"expected one pass over ${df.count()}")
      if (callerCached) {
        assert(in.storageLevel !== StorageLevel.NONE,
          "the sink dropped the caller's cache")
        in.unpersist()
      } else assert(in.storageLevel === StorageLevel.NONE,
        "the sink's own materialization outlived the call")
    }
    Seq(None, Some("window_start")).foreach { layout =>
      val sink = new ParquetUpsertSink(tmpDir("upsert1") + "/gold", keys,
        layout)
      assertOnePass(sink, base, batchId = 0)     // create
      assertOnePass(sink, updates, batchId = 1)  // merge
      assertOnePass(sink, updates, batchId = 1)  // replay: consumed, skipped
      assertOnePass(sink, updates.withColumn("total", lit(7L)), batchId = 2,
        callerCached = true)
      val m = sink.read(spark).select(col("window_start").cast("string"),
          col("driver_id"), col("total"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(m.size === 4)
      assert(m(("2024-01-01 10:00:00", "DRV001")) === 7L)
      assert(m(("2024-01-01 11:00:00", "DRV001")) === 2L)
    }
  }
}
