package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.RideGenerator
import graft.streaming.MedallionStream

/** Empirical scaling proof for the STREAMING medallion chain — the one
  * operator family [[ScaleProof]] skips. Drives bronze→silver→gold
  * under the RocksDB state store over an event backlog at n and at
  * factor·n, with `Trigger.AvailableNow` + `maxFilesPerTrigger`
  * splitting each drain into a fixed number of micro-batches (so the
  * comparison holds batch COUNT constant and scales batch SIZE — the
  * shape of a production backlog catch-up).
  *
  * Per stage it reports the scaling exponent
  * e = log(t_big/t_small)/log(factor) over the summed micro-batch
  * execution times (wall time would fold ~constant query-start
  * overhead into the small run and flatter the exponent), plus the
  * per-batch latency profile and the state-store curve
  * (max/final state rows, RocksDB sst bytes) from each batch's
  * StateOperatorProgress.
  *
  * Gold runs TWICE: `bounded = true` (10-min watermark + update mode —
  * the scale-safe variant) and `bounded = false` (complete mode — the
  * reference-faithful spelling, SURVEY.md §2.9 T4). The final summary
  * line quantifies the divergence: complete-mode state rows grow with
  * TOTAL event-time span (every window ever seen stays in the store
  * and is re-emitted every batch), bounded-mode state stays at the
  * watermark-active window set regardless of n.
  *
  * Usage: `runMain graft.StreamScaleProof [small] [factor]`
  * (defaults 10000, 10). The recorded proof run uses factor 100;
  * results live in PLANS.md §scaling beside the batch family.
  */
object StreamScaleProof {

  private val targetBatches = 8

  final case class StageMetrics(wallSec: Double, batchSec: Seq[Double],
                                stateRowsByBatch: Seq[Long],
                                stateBytesMax: Long, rowsIn: Long,
                                removedByBatch: Seq[Long] = Nil,
                                droppedByWatermark: Long = 0L)

  /** Drain an AvailableNow query and distill its progress ring —
    * including the watermark-health gauges [[graft.streaming
    * .QueryMonitor]] surfaces per snapshot (state rows REMOVED per
    * batch = eviction working; rows DROPPED by the watermark = late
    * data actually gated), so the proof can show state plateauing
    * because expiry keeps up, not merely that totals look small.
    */
  private def drain(start: () => StreamingQuery): StageMetrics = {
    val t0 = System.nanoTime()
    val q = start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toIndexedSeq.filter(_.numInputRows > 0)
    val batchSec = progress.map(_.durationMs.get("triggerExecution")
      .longValue() / 1e3)
    val stateRows = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
    val removed = progress.map(_.stateOperators.map(_.numRowsRemoved).sum)
    val dropped = progress.map(
      _.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    val stateBytes = progress.map(_.stateOperators.map { so =>
      // RocksDB reports its on-disk working set in custom metrics;
      // fall back to the generic heap gauge for stateless stages
      val sst = so.customMetrics.getOrDefault("rocksdbSstFileSize", 0L)
      math.max(sst, so.memoryUsedBytes)
    }.sum)
    StageMetrics(wall, batchSec, stateRows,
      if (stateBytes.isEmpty) 0L else stateBytes.max,
      progress.map(_.numInputRows).sum, removed, dropped)
  }

  /** maxFilesPerTrigger that splits `dir`'s current data files into
    * ~targetBatches micro-batches.
    */
  private def mfptFor(spark: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = fs.listStatus(path)
      .count(s => s.isFile && s.getPath.getName.startsWith("part-"))
    math.max(1, math.round(n.toDouble / targetBatches).toInt)
  }

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0).toLong else 10000L
    val factor = if (args.length > 1) args(1).toInt else 10
    val big = small * factor
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_STREAM_CHANGELOG=1 → RocksDB changelog checkpointing
    // (per-batch commits upload state DELTAS, not full snapshots) for
    // the A/B against the default snapshot-per-commit mode
    val changelog = sys.env.get("SPARK_GRAFT_STREAM_CHANGELOG").contains("1")
    MedallionStream.useRocksDbStateStore(spark, changelog = changelog)
    println(s"""{"conf":"changelogCheckpointing","enabled":$changelog}""")
    val work = java.nio.file.Files.createTempDirectory("graft-sscale").toString

    val results = mutable.Map.empty[(String, Long), StageMetrics]
    // (advance min-sec, recompute min-sec) per n — the IVM consumer
    val ivm = mutable.Map.empty[Long, (Double, Double)]
    // optional comma-separated stage filter for focused reruns
    // (e.g. SPARK_GRAFT_SSCALE_ONLY=admission_stream — the one stage
    // with no medallion dependency; the medallion stages are
    // dependency-closed as a group and run whole when any is wanted)
    val only = sys.env.get("SPARK_GRAFT_SSCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(s: String) = only.forall(_.contains(s))
    val medallionWanted = Seq("bronze", "silver", "gold_bounded",
      "gold_complete", "totals_tws", "ss_join", "gold_ivm").exists(want)
    def record(stage: String, n: Long, m: StageMetrics): Unit = {
      results((stage, n)) = m
      val batches = m.batchSec.map(s => f"$s%.2f").mkString("[", ",", "]")
      val srows = m.stateRowsByBatch.mkString("[", ",", "]")
      val removed = m.removedByBatch.mkString("[", ",", "]")
      println(s"""{"stage":"$stage","n":$n,"rows_in":${m.rowsIn},""" +
        s""""wall_sec":${f"${m.wallSec}%.2f"},""" +
        s""""batch_sec":$batches,"state_rows":$srows,""" +
        s""""state_rows_removed":$removed,""" +
        s""""dropped_by_watermark":${m.droppedByWatermark},""" +
        s""""state_bytes_max":${m.stateBytesMax}}""")
    }

    for (n <- Seq(small, big)) {
      val root = s"$work/n$n"
      // gold runs twice from the same silver table; each variant gets
      // its own sink dir + checkpoint (complete vs update state is
      // provider-incompatible within one checkpoint lifetime)
      def paths(gold: String) = MedallionStream.Paths(
        raw = s"$root/raw", bronze = s"$root/bronze",
        silver = s"$root/silver", gold = s"$root/$gold",
        checkpoints = s"$root/ckpt_$gold")
      val p = paths("gold_bounded")
      if (medallionWanted) {
      // 32 raw files at BOTH sizes: mfpt=4 → 8 batches per drain, so
      // scale grows the batch, not the batch count
      RideGenerator.writeRaw(spark, p.raw, n, files = 32)
      record("bronze", n, drain(() => MedallionStream.bronzeQuery(
        spark, p, Trigger.AvailableNow,
        maxFilesPerTrigger = Some(mfptFor(spark, p.raw)))))
      record("silver", n, drain(() => MedallionStream.silverQuery(
        spark, p, Trigger.AvailableNow,
        maxFilesPerTrigger = Some(mfptFor(spark, p.bronze)))))
      val silverMfpt = Some(mfptFor(spark, p.silver))
      record("gold_bounded", n, drain(() => MedallionStream.goldQuery(
        spark, p, Trigger.AvailableNow, bounded = true,
        maxFilesPerTrigger = silverMfpt)))
      record("gold_complete", n, drain(() => MedallionStream.goldQuery(
        spark, paths("gold_complete"), Trigger.AvailableNow,
        bounded = false, maxFilesPerTrigger = silverMfpt)))
      // transformWithState totals over the same silver stream: the
      // claim under proof is that the store scales with |ACTIVE KEYS|
      // (fixed driver population), not event volume — state_rows must
      // stay flat across the 100× while wall time tracks the scan
      record("totals_tws", n, drain(() => {
        import spark.implicits._
        import org.apache.spark.sql.functions.col
        val obs = spark.readStream
          .schema(spark.read.parquet(p.silver).schema)
          .option("maxFilesPerTrigger", silverMfpt.get)
          .parquet(p.silver)
          .select(col("driver_id"), col("event_timestamp"),
            col("is_suspicious"))
          .as[graft.streaming.AnomalyTracker.RideObs]
        graft.streaming.StatefulTotals.totals(obs)
          .writeStream.format("noop")
          .option("checkpointLocation", s"$root/ckpt_totals")
          .outputMode("update")
          .trigger(Trigger.AvailableNow)
          .start()
      }))
      // stream-stream interval join: two feeds of the silver table
      // reconciled on ride_id within a 10-minute range — the
      // two-unbounded-sides operator whose state is THE scale hazard.
      // Keyed on the unique ride id (a driver-keyed interval join
      // would pair every event with every same-driver event in the
      // window — combinatorial output by construction, not a state
      // problem the engine can fix), so output stays linear and the
      // measurement isolates JOIN STATE: both sides buffer only rows
      // newer than watermark - interval, so state must track the
      // in-flight window, not the stream
      record("ss_join", n, drain(() => {
        import org.apache.spark.sql.functions.{col, expr}
        val schema = spark.read.parquet(p.silver).schema
        def feed() = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", silverMfpt.get).parquet(p.silver)
        val a = feed().select(col("ride_id").as("ride_a"),
            col("event_timestamp").as("ts_a"))
          .withWatermark("ts_a", "10 minutes")
        val b = feed().select(col("ride_id").as("ride_b"),
            col("event_timestamp").as("ts_b"), col("driver_id"))
          .withWatermark("ts_b", "10 minutes")
        a.join(b, expr("""ride_a = ride_b AND
            ts_b >= ts_a AND ts_b <= ts_a + INTERVAL 10 MINUTES"""))
          .writeStream.format("noop")
          .option("checkpointLocation", s"$root/ckpt_ssjoin")
          .outputMode("append")
          .trigger(Trigger.AvailableNow)
          .start()
      }))
      // ---- IVM consumer over the streaming gold change feed ----
      // The downstream refresh asymmetry at STREAM volume: a per-driver
      // rollup is built once from the drained gold table, then a ~10%
      // second wave rides bronze→silver→gold (same checkpoints — a
      // backlog catch-up, not a re-ingest) plus one upstream
      // retraction, and the rollup is refreshed both ways — advance
      // from the pre-image change feed (O(delta + view)) vs recompute
      // (O(table)). As the table grows 100x and the delta stays ~10%,
      // advance must stay near-flat while recompute tracks the table.
      locally {
        import org.apache.spark.sql.functions.col
        val pi = paths("gold_ivm") // own gold dir + checkpoint; shared silver
        record("gold_ivm", n, drain(() => MedallionStream.goldQuery(
          spark, pi, Trigger.AvailableNow, bounded = true,
          maxFilesPerTrigger = silverMfpt, retainVersions = 24)))
        val sink = new graft.operators.ParquetUpsertSink(pi.gold,
          graft.model.Rides.goldKey, retainVersions = 24)
        val v1 = sink.currentVersion(spark)
        val view1 = graft.operators.IncrementalAgg.view(
          sink.readVersion(spark, v1), Seq("driver_id"),
          Seq("total_rides_hourly")).localCheckpoint(true)
        // wave 2 into the SHARED raw dir; bronze/silver continue from
        // their existing checkpoints (p), gold_ivm from its own
        RideGenerator.writeRaw(spark, p.raw, math.max(1000L, n / 10),
          seed = 13L, files = 8, epochStart = 1704067200L + 7200L)
        drain(() => MedallionStream.bronzeQuery(spark, p,
          Trigger.AvailableNow))
        drain(() => MedallionStream.silverQuery(spark, p,
          Trigger.AvailableNow))
        drain(() => MedallionStream.goldQuery(
          spark, pi, Trigger.AvailableNow, bounded = true,
          retainVersions = 24))
        val victim = sink.read(spark).select("driver_id")
          .orderBy("driver_id").first().getString(0)
        sink.delete(spark, col("driver_id") === victim, batchId = -1)
        // the deployment shape: ONE materialized feed, many views
        // advance from it
        val feed = sink.changeFeed(spark, v1, sink.currentVersion(spark),
          withPreimages = true).localCheckpoint(true)
        def reps(f: () => Long): (Double, Seq[Double]) = {
          val ts = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
          }
          (ts.min, ts)
        }
        val (adv, advReps) = reps(() =>
          graft.operators.IncrementalAgg.advance(view1, feed,
            Seq("driver_id"), Seq("total_rides_hourly")).collect().length)
        val (rec, recReps) = reps(() =>
          graft.operators.IncrementalAgg.view(sink.read(spark),
            Seq("driver_id"), Seq("total_rides_hourly")).collect().length)
        ivm(n) = (adv, rec)
        def fmt(xs: Seq[Double]) =
          xs.map(t => f"$t%.3f").mkString("[", ",", "]")
        println(s"""{"stage":"ivm_refresh","n":$n,""" +
          s""""advance_sec":${f"$adv%.3f"},"advance_reps":${fmt(advReps)},""" +
          s""""recompute_sec":${f"$rec%.3f"},"recompute_reps":${fmt(recReps)},""" +
          s""""feed_rows":${feed.count()},"view_rows":${view1.count()}}""")
      }
      } // medallionWanted
      // ---- streaming ADMISSION + mid-stream takedown ----
      // The batch-side ScaleProof prices admit_steady and
      // admit_maint_manifest as raw library calls; this leg prices the
      // SAME maintenance shape THROUGH the streaming wrapper
      // (readStream → foreachBatch → nearDupFilterBatch +
      // nearDupRemove per micro-batch, windowed stamps active) against
      // a store seeded at n/20 docs — at the recorded factor-100 run
      // that is the 500k-doc store. Batch count AND batch size are
      // FIXED (8 × 64 docs) while the store scales with n, so the
      // exponent isolates per-batch cost vs store size: expect ≈
      // admit_maint_manifest's near-flat curve, the foreachBatch
      // harness adding only constant per-trigger overhead.
      if (want("admission_stream")) {
      record("admission_stream", n, {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val nDocs = math.max(512L, n / 20)
        val store = s"$root/admstore"
        val seed = graft.sources.CorpusGenerator
          .documents(spark, nDocs, seed = 41L)
        // tailFoldFiles = 0: seed fully FOLDED into L1 buckets at BOTH
        // scales — otherwise the small store stays tail-resident (its
        // 4 appends never cross the fold budget) and the exponent
        // compares a tail join against a bucket-slice join
        for (b <- 0 until 4)
          graft.functions.Dedup.nearDupFilterBatch(
            seed.filter(pmod(col("doc_id"), lit(4L)) === b),
            store, "doc_id", "text",
            nBuckets = math.max(16, (nDocs / 100).toInt),
            autoCompactFiles = 16, tailFoldFiles = 0, admittedAt = 1000L)
        val feedDir = s"$root/admfeed"
        graft.sources.CorpusGenerator
          .documents(spark, 512, seed = 42L)
          .select((col("doc_id") + lit(50000000L)).as("doc_id"),
            col("text"))
          .repartition(8)
          .write.mode("overwrite").parquet(feedDir)
        val schema = spark.read.parquet(feedDir).schema
        drain(() => spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feedDir)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            val now = 2000L + id
            graft.functions.Dedup.nearDupFilterBatch(
              b, store, "doc_id", "text",
              nBuckets = math.max(16, (nDocs / 100).toInt),
              autoCompactFiles = 16, admittedAt = now,
              suppressSince = 1L).count()
            graft.functions.Dedup.nearDupRemove(
              b, store, "doc_id", "text",
              nBuckets = math.max(16, (nDocs / 100).toInt))
            ()
          }
          .option("checkpointLocation", s"$root/ckpt_admission")
          .trigger(Trigger.AvailableNow)
          .start())
      })
      } // admission_stream
      // ---- streaming admission with ONLINE SPLITS riding the turns ----
      // The batch-side admit_split leg prices one extendible-hashing
      // bucket split as a raw library call; this leg prices the
      // POLICY'S split path live in the stream: every micro-batch
      // admission runs with a 1-byte bucket budget (any non-empty
      // bucket is over-budget at every scale) and tailFoldFiles = 0,
      // so each trigger folds and then splits one bucket inside the
      // writer's own turn. Buckets hold ~100 docs at EVERY n (the
      // modulus scales with the corpus), so the per-turn split cost is
      // one near-constant bucket's data — expect an exponent ≈
      // admit_split's near-flat 0.01-0.1 band, the foreachBatch
      // harness adding only constant per-trigger overhead. Non-vacuity
      // is asserted inside the leg: the store must have split.
      if (want("admission_stream_split")) {
      record("admission_stream_split", n, {
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val nDocs = math.max(512L, n / 20)
        val nb = math.max(16, (nDocs / 100).toInt)
        val store = s"$root/admsplitstore"
        val seed = graft.sources.CorpusGenerator
          .documents(spark, nDocs, seed = 43L)
        for (b <- 0 until 4)
          graft.functions.Dedup.nearDupFilterBatch(
            seed.filter(pmod(col("doc_id"), lit(4L)) === b),
            store, "doc_id", "text", nBuckets = nb,
            autoCompactFiles = 16, tailFoldFiles = 0, admittedAt = 1000L)
        val feedDir = s"$root/admsplitfeed"
        graft.sources.CorpusGenerator
          .documents(spark, 512, seed = 44L)
          .select((col("doc_id") + lit(60000000L)).as("doc_id"),
            col("text"))
          .repartition(8)
          .write.mode("overwrite").parquet(feedDir)
        val schema = spark.read.parquet(feedDir).schema
        val metrics = drain(() => spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feedDir)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.functions.Dedup.nearDupFilterBatch(
              b, store, "doc_id", "text", nBuckets = nb,
              autoCompactFiles = 16, tailFoldFiles = 0,
              admittedAt = 2000L + id, suppressSince = 1L,
              maxBucketBytes = 1L, maxSplitsPerTurn = 1).count()
            ()
          }
          .option("checkpointLocation", s"$root/ckpt_admission_split")
          .trigger(Trigger.AvailableNow)
          .start())
        val stats = graft.functions.Dedup.admissionStoreStats(spark, store)
        require(stats.maxDepth > 0 && stats.splitBuckets > 0,
          "admission_stream_split is vacuous: no online split ran " +
            s"(maxDepth=${stats.maxDepth})")
        metrics
      })
      } // admission_stream_split
    }

    val stages = Seq("bronze", "silver", "gold_bounded", "gold_complete",
      "totals_tws", "ss_join", "admission_stream",
      "admission_stream_split", "gold_ivm")
      .filter(s => results.contains((s, small)) && results.contains((s, big)))
    val exponents = stages.map { s =>
      val e = math.log(results((s, big)).batchSec.sum /
          results((s, small)).batchSec.sum) /
        math.log(factor.toDouble)
      s""""$s":${f"$e%.3f"}"""
    }.mkString(",")
    println(s"""{"metric":"scaling_exponent","factor":$factor,$exponents}""")
    def finalState(s: String, n: Long): Long = {
      val rows = results.get((s, n)).map(_.stateRowsByBatch)
        .getOrElse(Nil)
      if (rows.isEmpty) 0L else rows.last
    }
    if (medallionWanted)
    println(s"""{"metric":"gold_state_divergence",""" +
      s""""bounded_final_rows":{"small":${finalState("gold_bounded", small)},""" +
      s""""big":${finalState("gold_bounded", big)}},""" +
      s""""complete_final_rows":{"small":${finalState("gold_complete", small)},""" +
      s""""big":${finalState("gold_complete", big)}}}""")
    // Watermark-health summary: bounded-mode state must PLATEAU at the
    // factor step because eviction keeps pace (removed ≈ expired
    // windows), not because nothing entered the store — report both
    // sides of that ledger for the scale-safe stages.
    def removedSum(s: String, n: Long): Long =
      results.get((s, n)).map(_.removedByBatch.sum).getOrElse(0L)
    def maxState(s: String, n: Long): Long = {
      val r = results.get((s, n)).map(_.stateRowsByBatch).getOrElse(Nil)
      if (r.isEmpty) 0L else r.max
    }
    val wmStages = Seq("gold_bounded", "totals_tws", "ss_join")
      .filter(s => results.contains((s, small)))
    val wmJson = wmStages.map { s =>
      s""""$s":{"max_state_rows":{"small":${maxState(s, small)},""" +
        s""""big":${maxState(s, big)}},""" +
        s""""rows_removed":{"small":${removedSum(s, small)},""" +
        s""""big":${removedSum(s, big)}}}"""
    }.mkString(",")
    if (wmStages.nonEmpty)
      println(s"""{"metric":"watermark_health",$wmJson}""")
    // The IVM claim in one line: advance exponent ~0 (delta-sized
    // work), recompute exponent ~1 (table-sized) — the refresh
    // asymmetry that makes maintained views the 100 TB answer.
    def e(f: Long => Double): Double =
      math.log(f(big) / f(small)) / math.log(factor.toDouble)
    if (ivm.contains(small) && ivm.contains(big))
    println(s"""{"metric":"ivm_refresh_asymmetry","factor":$factor,""" +
      s""""advance_exponent":${f"${e(ivm(_)._1)}%.3f"},""" +
      s""""recompute_exponent":${f"${e(ivm(_)._2)}%.3f"},""" +
      s""""advance_sec":{"small":${f"${ivm(small)._1}%.3f"},"big":${f"${ivm(big)._1}%.3f"}},""" +
      s""""recompute_sec":{"small":${f"${ivm(small)._2}%.3f"},"big":${f"${ivm(big)._2}%.3f"}}}""")
    spark.stop()
  }
}
