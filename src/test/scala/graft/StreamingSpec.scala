package graft

import org.apache.spark.sql.functions._
import graft.model.Rides
import graft.operators.{Medallion, ParquetUpsertSink}
import graft.sources.RideGenerator
import graft.streaming.MedallionStream

/** End-to-end streaming topology: raw JSON → bronze → silver → gold
  * upsert, driven to drain with Trigger.AvailableNow. Covers the
  * state machinery (watermark+dedup, foreachBatch upsert, incremental
  * second batch) that the batch oracle can't.
  */
class StreamingSpec extends SparkTestBase {

  test("medallion chain drains and converges to the batch recompute") {
    val root = tmpDir("stream")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")

    RideGenerator.writeRaw(spark, p.raw, 5000L)
    MedallionStream.runDrain(spark, p)

    val bronze = spark.read.parquet(p.bronze)
    assert(bronze.columns.toSeq === Seq("raw_json_data", "timestamp"))
    assert(bronze.count() === 5000)

    val silver = spark.read.parquet(p.silver)
    // dedup key unique in silver
    assert(silver.count() ===
      silver.select(col("ride_id"), col("event_timestamp")).distinct().count())

    // gold ≡ batch recompute over the silver table (upsert convergence)
    val goldSink = new ParquetUpsertSink(p.gold, Rides.goldKey)
    val gold = goldSink.read(spark)
      .select("window_start", "window_end", "driver_id",
        "total_rides_hourly", "avg_fare_hourly",
        "total_suspicious_rides_hourly")
    val expected = Medallion.goldAggregate(silver)
    assert(gold.except(expected).count() === 0 &&
      expected.except(gold).count() === 0,
      "gold diverged from batch recompute")

    // second wave: LATER events (past the watermark frontier) → rerun
    RideGenerator.writeRaw(spark, p.raw, 3000L, seed = 7L,
      epochStart = 1704067200L + 3600L)
    MedallionStream.runDrain(spark, p)
    val silver2 = spark.read.parquet(p.silver)
    assert(silver2.count() > silver.count())
    val gold2 = goldSink.read(spark)
      .select("window_start", "window_end", "driver_id",
        "total_rides_hourly", "avg_fare_hourly",
        "total_suspicious_rides_hourly")
    val expected2 = Medallion.goldAggregate(silver2)
    assert(gold2.except(expected2).count() === 0 &&
      expected2.except(gold2).count() === 0,
      "gold diverged after second micro-batch wave")
    // upsert key stays unique
    assert(gold2.count() === gold2
      .select(col("window_start"), col("window_end"), col("driver_id"))
      .distinct().count())
  }

  test("the chain spawns no chmod/readlink/ls/stat for its checkpoint, " +
      "bronze or silver files") {
    val root = tmpDir("streamspawn")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    RideGenerator.writeRaw(spark, p.raw, 2000L)
    val commands = ForklessLocalFsSpec.spawns(MedallionStream.runDrain(spark, p))
    val canon = new java.io.File(root).getCanonicalPath
    def under(sub: String) = ForklessLocalFsSpec.fsToolSpawns(commands,
      Seq(s"$root/$sub", s"$canon/$sub"))
    val chain = Seq("ckpt", "bronze", "silver").flatMap(under)
    assert(chain.size === 0, s"spawns, e.g. ${chain.take(3)}")
    // the gold sink's own commit, claim and manifest files resolve
    // their filesystem through the session's Hadoop conf too
    val gold = under("gold")
    assert(gold.size === 0, s"gold-table spawns, e.g. ${gold.take(3)}")
    assert(new ParquetUpsertSink(p.gold, Rides.goldKey).exists(spark))
  }

  test("partitioned gold (date-partitioned upsert) converges too") {
    val root = tmpDir("streamp")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    RideGenerator.writeRaw(spark, p.raw, 4000L)
    import org.apache.spark.sql.streaming.Trigger
    MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
      .awaitTermination()
    MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
      .awaitTermination()
    // one silver file per gold batch, so the table has a merge version
    MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
      partitioned = true, maxFilesPerTrigger = Some(1)).awaitTermination()
    val silver = spark.read.parquet(p.silver)
    val sink = new graft.operators.ParquetUpsertSink(p.gold,
      Rides.goldKey, Some("window_date"))
    val cols = Seq("window_start", "window_end", "driver_id",
      "total_rides_hourly", "avg_fare_hourly",
      "total_suspicious_rides_hourly").map(col)
    val gold = sink.read(spark).select(cols: _*)
    val expected = Medallion.goldAggregate(silver)
    assert(gold.except(expected).count() === 0 &&
      expected.except(gold).count() === 0,
      "partitioned gold diverged from batch recompute")
    // physically partitioned by date
    assert(new java.io.File(p.gold).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("window_date=")))
    // the default partitioned sink keeps history: the head version
    // time-travels, and the previous version plus the change feed
    // between them replays to the head
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).collect().map(_.toString).toSet
    val head = sink.currentVersion(spark)
    assert(head >= 1, s"need a merge version, got head $head")
    assert(rows(sink.readVersion(spark, head)) === rows(gold))
    val feed = sink.changeFeed(spark, head - 1, head)
    val replayed = sink.readVersion(spark, head - 1)
      .join(feed.select(Rides.goldKey.map(col): _*), Rides.goldKey,
        "left_anti")
      .unionByName(feed.filter(col("_change_type") =!= "delete")
        .drop("_change_type"))
    assert(rows(replayed) === rows(gold),
      "previous version + change feed must replay to the head")
  }

  test("partitioned gold: the LIVE streaming table time-travels and " +
      "feeds delta CDC across waves") {
    val root = tmpDir("streamh")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    import org.apache.spark.sql.streaming.Trigger
    def drainWave(): Unit = {
      MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
        bounded = true, partitioned = true, retainVersions = 6)
        .awaitTermination()
    }
    RideGenerator.writeRaw(spark, p.raw, 3000L)
    drainWave()
    val sink = new ParquetUpsertSink(p.gold, Rides.goldKey,
      Some("window_date"), retainVersions = 6)
    val v1 = sink.currentVersion(spark)
    val cols = Seq("window_start", "window_end", "driver_id",
      "total_rides_hourly", "avg_fare_hourly",
      "total_suspicious_rides_hourly")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toString).toSet
    val state1 = asSet(sink.read(spark))
    // second wave: later events through the SAME checkpoints
    RideGenerator.writeRaw(spark, p.raw, 2000L, seed = 7L,
      epochStart = 1704067200L + 3600L)
    drainWave()
    val v2 = sink.currentVersion(spark)
    assert(v2 > v1, "second wave must commit new gold versions")
    assert(asSet(sink.read(spark)) !== state1)
    // time travel on the live streaming table: v1 reads back exactly
    assert(asSet(sink.readVersion(spark, v1)) === state1)
    // the delta-built feed between the waves advances a maintained
    // per-driver rollup to the head state — nightly-incremental
    // consumption of the streaming gold table
    val grouped = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("rides", col("total_rides_hourly").cast("double"))
    val view1 = graft.operators.IncrementalAgg.view(
      grouped(sink.readVersion(spark, v1)), Seq("driver_id"),
      Seq("rides")).localCheckpoint(true)
    val feed = sink.changeFeed(spark, v1, v2, withPreimages = true)
    val advanced = graft.operators.IncrementalAgg.advance(
      view1, grouped(feed), Seq("driver_id"), Seq("rides"))
    val full = graft.operators.IncrementalAgg.view(
      grouped(sink.read(spark)), Seq("driver_id"), Seq("rides"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m(advanced) === m(full),
      "maintained rollup diverged from recompute across the feed")
  }

  test("RESTORE of the streaming gold table between waves: replay " +
      "guard survives the rollback commit, CDC feeds the retraction " +
      "to an incremental consumer, and the stream continues") {
    val root = tmpDir("streamr")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    import org.apache.spark.sql.streaming.Trigger
    def drainWave(): Unit = {
      MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
        bounded = true, partitioned = true, retainVersions = 8)
        .awaitTermination()
    }
    RideGenerator.writeRaw(spark, p.raw, 3000L)
    drainWave()
    val sink = new ParquetUpsertSink(p.gold, Rides.goldKey,
      Some("window_date"), retainVersions = 8)
    val v1 = sink.currentVersion(spark)
    val cols = Seq("window_start", "window_end", "driver_id",
      "total_rides_hourly", "avg_fare_hourly",
      "total_suspicious_rides_hourly")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toString).toSet
    val state1 = asSet(sink.read(spark))
    RideGenerator.writeRaw(spark, p.raw, 2000L, seed = 7L,
      epochStart = 1704067200L + 3600L)
    drainWave()
    val v2 = sink.currentVersion(spark)
    assert(v2 > v1)
    // a downstream rollup maintained at v2, BEFORE the restore lands
    val grouped = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("rides", col("total_rides_hourly").cast("double"))
    val view2 = graft.operators.IncrementalAgg.view(
      grouped(sink.readVersion(spark, v2)), Seq("driver_id"),
      Seq("rides")).localCheckpoint(true)
    // admin rolls the gold table back to the wave-1 state
    sink.restore(spark, v1)
    val v3 = sink.currentVersion(spark)
    assert(v3 > v2, "restore must land as a NEW commit")
    assert(asSet(sink.read(spark)) === state1,
      "restored gold must read as the wave-1 state")
    // 1. replay guard: the batchId high-water carried FORWARD through
    // the rollback commit, so a re-delivered micro-batch (a restarted
    // query whose checkpoint never committed wave 2's batch) is
    // skipped, not double-applied over the restored state
    val lastBatch = sink.history(spark)
      .agg(max(col("batch_id"))).collect()(0).getLong(0)
    assert(lastBatch >= 0, "setup: a streaming batch id must be recorded")
    val replayed = sink.readVersion(spark, v2).limit(5)
    sink.upsert(spark, replayed, lastBatch)
    assert(sink.currentVersion(spark) === v3,
      "a replayed batchId must be skipped after the restore")
    assert(asSet(sink.read(spark)) === state1)
    // 2. CDC across the rollback: the v2→v3 feed carries exactly the
    // retractions/re-inserts that advance a v2-state rollup to the
    // restored head — the downstream consumer never resyncs from scratch
    val feed = sink.changeFeed(spark, v2, v3, withPreimages = true)
    val advanced = graft.operators.IncrementalAgg.advance(
      view2, grouped(feed), Seq("driver_id"), Seq("rides"))
    val full = graft.operators.IncrementalAgg.view(
      grouped(sink.read(spark)), Seq("driver_id"), Seq("rides"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m(advanced) === m(full),
      "rollup advanced across the restore diverged from recompute")
    // 3. the stream itself continues: a third wave of NEW events
    // drains through the same checkpoints and commits over the
    // restored table
    RideGenerator.writeRaw(spark, p.raw, 1000L, seed = 13L,
      epochStart = 1704067200L + 7200L)
    drainWave()
    assert(sink.currentVersion(spark) > v3,
      "post-restore waves must keep committing")
    assert(asSet(sink.read(spark)) !== state1)
  }

  test("bounded gold variant (watermark + update mode) also converges") {
    val root = tmpDir("streamb")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    RideGenerator.writeRaw(spark, p.raw, 4000L)
    import org.apache.spark.sql.streaming.Trigger
    MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
      .awaitTermination()
    MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
      .awaitTermination()
    MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
      bounded = true).awaitTermination()
    val silver = spark.read.parquet(p.silver)
    val gold = new graft.operators.ParquetUpsertSink(p.gold, Rides.goldKey)
      .read(spark)
      .select("window_start", "window_end", "driver_id",
        "total_rides_hourly", "avg_fare_hourly",
        "total_suspicious_rides_hourly")
    // single drain: the watermark admits everything it saw, so the
    // update-mode output upserts to the same state as the batch
    // recompute
    val expected = Medallion.goldAggregate(silver)
    assert(gold.except(expected).count() === 0 &&
      expected.except(gold).count() === 0,
      "bounded gold diverged from batch recompute")
  }

  test("an upstream delete rides the gold change feed into an incremental consumer") {
    // End-to-end CDC: streaming upserts (wave 2) and an ad-hoc
    // retraction (driver opt-out) land in ONE feed window; a
    // downstream incremental aggregate applies the feed — inserts,
    // update post-images, AND delete retractions — and must converge
    // to the full recompute without rereading untouched rows.
    import spark.implicits._
    val root = tmpDir("streamcdc")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    RideGenerator.writeRaw(spark, p.raw, 4000L)
    // retention > 2: the CDC consumer's `from` version must survive
    // the wave-2 micro-batch commits + the delete commit
    MedallionStream.runDrain(spark, p, goldRetainVersions = 6)
    val sink = new ParquetUpsertSink(p.gold, Rides.goldKey,
      retainVersions = 6)
    val v1 = sink.currentVersion(spark)
    val keys = Rides.goldKey
    def score(df: org.apache.spark.sql.DataFrame) =
      df.select(col("window_start"), col("window_end"), col("driver_id"),
        (col("avg_fare_hourly") * col("total_rides_hourly")).as("revenue"))
    val base = score(sink.readVersion(spark, v1)).localCheckpoint(true)

    // wave 2 through the streaming path, then the upstream retraction
    RideGenerator.writeRaw(spark, p.raw, 2500L, seed = 11L,
      epochStart = 1704067200L + 7200L)
    MedallionStream.runDrain(spark, p, goldRetainVersions = 6)
    val victim = sink.read(spark).select("driver_id").as[String].head()
    sink.delete(spark, col("driver_id") === victim, batchId = -1)

    val v2 = sink.currentVersion(spark)
    assert(v2 > v1)
    val feed = sink.changeFeed(spark, v1, v2)
    assert(feed.filter(col("_change_type") === "delete").count() > 0,
      "the retraction must surface as delete rows in the feed")
    // incremental maintenance: drop every touched key from the
    // baseline, re-add the non-delete post-images
    val touched = feed.select(keys.map(col): _*).distinct()
    val incremental = base.join(touched, keys, "left_anti")
      .unionByName(score(feed.filter(col("_change_type") =!= "delete")))
    val full = score(sink.read(spark))
    assert(incremental.except(full).isEmpty && full.except(incremental).isEmpty,
      "incremental consumer diverged from full recompute after the delete")
    assert(full.filter(col("driver_id") === victim).isEmpty,
      s"retracted driver $victim must not survive downstream")
  }

  test("gold survives a kill between sink write and checkpoint commit") {
    // The exactly-once hole every foreachBatch sink has to close: the
    // process dies AFTER the sink committed batch N but BEFORE Spark
    // recorded N complete in the checkpoint. On restart Spark replays
    // batch N — the sink's batchId ledger must turn that replay into a
    // no-op (one logical application), end to end under RocksDB.
    val root = tmpDir("streamc")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    RideGenerator.writeRaw(spark, p.raw, 4000L)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    MedallionStream.useRocksDbStateStore(spark)
    try {
      import org.apache.spark.sql.streaming.Trigger
      MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      // run 1: crash injected right after the sink commit of batch 0
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
          bounded = true,
          afterBatch = bid => throw new RuntimeException(s"injected-kill@$bid")
        ).awaitTermination()
      }
      assert(ex.getMessage.contains("injected-kill@0"), ex.getMessage)
      // the sink DID commit batch 0 before the "kill"
      def batch0Commits(): Int = new java.io.File(s"${p.gold}/_commits")
        .listFiles().filter(_.getName.forall(_.isDigit)) // skip .crc files
        .count { f =>
          scala.io.Source.fromFile(f).mkString.trim.split("\\s+")(0) == "0"
        }
      assert(batch0Commits() === 1, "crash window missed: no sink commit")
      // run 2: clean restart from the same checkpoint — Spark replays
      // batch 0; the sink must skip it, then finish the drain
      MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
        bounded = true).awaitTermination()
      assert(batch0Commits() === 1,
        "replayed batch 0 was applied twice — exactly-once broken")
      val silver = spark.read.parquet(p.silver)
      val gold = new ParquetUpsertSink(p.gold, Rides.goldKey).read(spark)
        .select("window_start", "window_end", "driver_id",
          "total_rides_hourly", "avg_fare_hourly",
          "total_suspicious_rides_hourly")
      val expected = Medallion.goldAggregate(silver)
      assert(gold.except(expected).count() === 0 &&
        expected.except(gold).count() === 0,
        "gold diverged from batch recompute after crash-replay")
      assert(gold.count() === gold
        .select(col("window_start"), col("window_end"), col("driver_id"))
        .distinct().count(), "duplicate gold keys after replay")
      // and the stream keeps moving: a later wave lands as batch 1+
      RideGenerator.writeRaw(spark, p.raw, 1000L, seed = 9L,
        epochStart = 1704067200L + 7200L)
      MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
        bounded = true).awaitTermination()
      val gold2 = new ParquetUpsertSink(p.gold, Rides.goldKey).read(spark)
        .select("window_start", "window_end", "driver_id",
          "total_rides_hourly", "avg_fare_hourly",
          "total_suspicious_rides_hourly")
      val expected2 = Medallion.goldAggregate(spark.read.parquet(p.silver))
      assert(gold2.except(expected2).count() === 0 &&
        expected2.except(gold2).count() === 0,
        "gold diverged after the post-crash wave")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("medallion chain converges under the RocksDB state store") {
    val root = tmpDir("streamr")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    RideGenerator.writeRaw(spark, p.raw, 3000L)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val clKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(key)
    val prevCl = spark.conf.getOption(clKey)
    // changelog checkpointing ON: per-batch delta uploads + periodic
    // snapshot consolidation is the large-state configuration — the
    // chain must converge identically under it
    MedallionStream.useRocksDbStateStore(spark, changelog = true)
    try {
      // the full chain: silver's watermark+dropDuplicates and gold's
      // window aggregation both run their state through RocksDB
      MedallionStream.runDrain(spark, p)
      val silver = spark.read.parquet(p.silver)
      assert(silver.count() === silver
        .select(col("ride_id"), col("event_timestamp")).distinct().count())
      val gold = new ParquetUpsertSink(p.gold, Rides.goldKey).read(spark)
        .select("window_start", "window_end", "driver_id",
          "total_rides_hourly", "avg_fare_hourly",
          "total_suspicious_rides_hourly")
      val expected = Medallion.goldAggregate(silver)
      assert(gold.except(expected).count() === 0 &&
        expected.except(gold).count() === 0,
        "gold diverged from batch recompute under RocksDB")
      // the checkpoint really used RocksDB (its state dirs carry the
      // provider's on-disk layout: per-version .zip / .changelog files)
      val stateDir = new java.io.File(s"${p.checkpoints}/silver/state")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      assert(walk(stateDir).exists(f => f.getName.endsWith(".zip") ||
        f.getName.endsWith(".changelog")),
        "silver checkpoint has no RocksDB state artifacts")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevCl match {
        case Some(v) => spark.conf.set(clKey, v)
        case None => spark.conf.unset(clKey)
      }
    }
  }

  test("watermark drops and state rows are observable under RocksDB") {
    val root = tmpDir("streamwm")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    MedallionStream.useRocksDbStateStore(spark)
    val monitor = graft.streaming.QueryMonitor.attach(spark)
    import org.apache.spark.sql.streaming.Trigger
    try {
      // wave 1: recent events — establishes silver's dedup state and a
      // watermark ≈ max(event_timestamp) − 10 min in the checkpoint
      RideGenerator.writeRaw(spark, p.raw, 2000L)
      MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      val silverAfter1 = spark.read.parquet(p.silver).count()
      val pass1 = monitor.terminations.flatMap(_.lastProgress)
      assert(pass1.exists(_.stateRows > 0),
        s"dedup state rows not observable in progress: $pass1")
      assert(pass1.forall(_.droppedByWatermark === 0L),
        s"wave 1 must drop nothing: $pass1")

      // wave 2: a full day BEHIND the persisted watermark — every row
      // reaches the dedup operator too late and must be counted as
      // dropped, with silver unchanged (silent data loss made visible)
      RideGenerator.writeRaw(spark, p.raw, 400L, seed = 7L,
        epochStart = 1704067200L - 86400L)
      MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      val deadline = System.currentTimeMillis() + 30000
      def dropped = monitor.terminations.flatMap(_.lastProgress)
        .map(_.droppedByWatermark).sum
      while (dropped == 0L && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(dropped > 0L, "no watermark drops observed for the late wave")
      assert(spark.read.parquet(p.silver).count() === silverAfter1,
        "rows behind the watermark leaked into silver")
      assert(monitor.render().contains("late-dropped="),
        "render must surface the drop counter")
    } finally {
      spark.streams.removeListener(monitor)
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("gold commits its window state once per micro-batch under " +
      "RocksDB, on both sink layouts") {
    import org.apache.spark.sql.streaming.Trigger
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    MedallionStream.useRocksDbStateStore(spark)
    val monitor = graft.streaming.QueryMonitor.attach(spark)
    try Seq(false, true).foreach { partitioned =>
      val root = tmpDir("streamonce")
      val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
        s"$root/silver", s"$root/gold", s"$root/ckpt")
      RideGenerator.writeRaw(spark, p.raw, 2000L)
      MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      MedallionStream.silverQuery(spark, p, Trigger.AvailableNow)
        .awaitTermination()
      // one silver file per gold batch: batch 0 creates the table,
      // every later batch runs the merge
      val gold = MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
        partitioned = partitioned, maxFilesPerTrigger = Some(1))
      gold.awaitTermination()
      val batches = gold.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(batches.length >= 2,
        s"partitioned=$partitioned: need a merge batch, got ${batches.length}")
      batches.foreach { b =>
        b.stateOperators.foreach { op =>
          assert(op.numStateStoreInstances === op.numShufflePartitions,
            s"partitioned=$partitioned batch ${b.batchId}: " +
              s"${op.numStateStoreInstances} state stores over " +
              s"${op.numShufflePartitions} partitions — the sink " +
              "re-evaluated the stateful aggregate")
        }
      }
      // the monitor surfaces the same count (listener delivery is async)
      val deadline = System.currentTimeMillis() + 30000
      def last = monitor.terminations.find(_.id == gold.id)
        .flatMap(_.lastProgress)
      while (last.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val ops = gold.lastProgress.stateOperators
      assert(last.map(s => (s.stateStoreInstances, s.stateCommitMs)) ===
        Some((ops.map(_.numShufflePartitions.toLong).sum,
          ops.map(_.commitTimeMs).sum)))
    } finally {
      spark.streams.removeListener(monitor)
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("QueryMonitor listener captures progress and renders a summary") {
    val root = tmpDir("streamm")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    RideGenerator.writeRaw(spark, p.raw, 1000L)
    val monitor = graft.streaming.QueryMonitor.attach(spark)
    try {
      import org.apache.spark.sql.streaming.Trigger
      val q = MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow)
      q.awaitTermination()
      // listener delivery is async — wait for the progress event
      val deadline = System.currentTimeMillis() + 30000
      while (monitor.latest.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val snaps = monitor.latest.values
      assert(snaps.nonEmpty, "no progress captured")
      assert(snaps.exists(_.numInputRows > 0), s"no rows observed: $snaps")
      assert(monitor.render().contains("batch="))
      assert(monitor.render().contains("stores="))
      // the checkpoint-log layer: offset WAL + commit log, per batch
      assert(monitor.render().contains("log-ms="))
      // (the termination event follows the query's last progress event)
      while (!monitor.terminations.exists(_.id == q.id) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val d = q.lastProgress.durationMs
      assert(monitor.latest.get(q.id).map(_.logCommitMs) ===
        Some(d.get("walCommit").longValue + d.get("commitOffsets").longValue))
      // the AvailableNow query has terminated: its ring is evicted and
      // its final snapshot lives in the bounded termination log
      assert(monitor.terminations.nonEmpty)
      assert(monitor.terminations.exists(_.lastProgress.isDefined))
    } finally spark.streams.removeListener(monitor)
  }

  test("gold stream with autoCompact keeps the snapshot defragmented; countRows is metadata-only") {
    val root = tmpDir("stream")
    val p = MedallionStream.Paths(s"$root/raw", s"$root/bronze",
      s"$root/silver", s"$root/gold", s"$root/ckpt")
    RideGenerator.writeRaw(spark, p.raw, 4000L)
    MedallionStream.bronzeQuery(spark, p,
      org.apache.spark.sql.streaming.Trigger.AvailableNow)
      .awaitTermination()
    MedallionStream.silverQuery(spark, p,
      org.apache.spark.sql.streaming.Trigger.AvailableNow)
      .awaitTermination()
    MedallionStream.goldQuery(spark, p,
      org.apache.spark.sql.streaming.Trigger.AvailableNow,
      autoCompact = Some(graft.operators.AutoCompact(files = 2)))
      .awaitTermination()
    val sink = new ParquetUpsertSink(p.gold, Rides.goldKey)
    // the micro-batch fragmented past the budget → an immediate
    // compaction commit follows the upsert
    val ops = sink.history(spark).collect().map(_.getString(2)).toSeq
    assert(ops.headOption.contains("compact"), s"history: $ops")
    val fs = new org.apache.hadoop.fs.Path(p.gold)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = sink.history(spark).first().getString(4)
    val nFiles = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"${p.gold}/$d"))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(nFiles <= 2, s"snapshot still holds $nFiles files")
    // gold content still converges to the batch recompute
    val silver = spark.read.parquet(p.silver)
    val gold = sink.read(spark)
      .select("window_start", "window_end", "driver_id",
        "total_rides_hourly", "avg_fare_hourly",
        "total_suspicious_rides_hourly")
    val expected = Medallion.goldAggregate(silver)
    assert(gold.except(expected).count() === 0 &&
      expected.except(gold).count() === 0)
    // manifest-backed count agrees with the scan count, zero tasks
    assert(sink.countRows(spark) === Some(gold.count()))
  }
}
