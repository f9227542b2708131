package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.model.Rides
import graft.operators.{Medallion, ParquetUpsertSink}

/** The three streaming queries of the medallion chain, mirroring the
  * reference topology — three INDEPENDENT queries coupled only through
  * storage (SURVEY.md §3.1), which reproduces its actual late-data
  * behavior (the silver watermark does not propagate to gold).
  *
  *   raw JSON dir  ──bronze──▶ bronze parquet (append, 10 s trigger)
  *   bronze parquet ──silver──▶ silver parquet (append, watermark+dedup)
  *   silver parquet ──gold──▶ upsert table (foreachBatch merge, 45 s)
  *
  * Sources are Spark's incremental file sources (the Kafka connector
  * jar is absent; with it, bronze's source is a 1-line swap to
  * `format("kafka")` — see 01_bronze_realtime_rides.py:66-71).
  * Checkpoints give exactly-once; the gold sink adds batchId
  * idempotence on top (ParquetUpsertSink).
  */
object MedallionStream {

  /** Kafka-like raw record schema as landed in JSON files. */
  val rawSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("timestamp", TimestampType)))

  /** Spark's RocksDB state store provider — the bounded-heap option
    * for the chain's stateful operators at scale. The default
    * (HDFSBackedStateStoreProvider) keeps every state row on the
    * executor HEAP: at 100 TB the silver dedup state (one row per
    * (ride_id, event_timestamp) within the watermark) and the gold
    * window state become an OOM risk. RocksDB keeps the working set
    * off-heap / on local disk with incremental checkpointing to the
    * checkpoint location; the swap is this one session conf, applied
    * before the queries START (provider is fixed per checkpoint
    * lifetime — switching an existing checkpoint's provider is not
    * supported by Spark). Exercised by StreamingSpec under the jar
    * shipped in /opt/spark/jars (rocksdbjni).
    */
  val rocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Route all subsequently-started streaming queries' state through
    * RocksDB (see [[rocksDbProvider]]).
    *
    * `changelog = true` additionally enables RocksDB changelog
    * checkpointing: each micro-batch commit uploads only the batch's
    * state CHANGES to the checkpoint location, with full sst-file
    * snapshots consolidated periodically in the background — instead
    * of the default snapshot-per-commit, whose upload cost scales
    * with total state size. This is the knob that keeps per-batch
    * commit latency flat when state is large (the silver dedup store
    * holds ~1.2M rows / 139 MB of sst during a 10M-event backlog
    * drain — see PLANS.md §streaming-scaling); measured there it
    * also removes the multi-second commit spikes. Default off so
    * existing checkpoints keep their format.
    */
  def useRocksDbStateStore(spark: SparkSession,
                           changelog: Boolean = false): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      rocksDbProvider)
    if (changelog) spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
  }

  /** Route the chain's local-disk I/O — offset/commit WALs, sink logs,
    * state-store files, part files — through [[ForklessLocalFs]], which
    * does Hadoop's `chmod`/`readlink` with `java.nio` instead of a
    * spawned process per file. Each query clones the session at
    * `start()`, so its checkpoint manager, state stores and writers all
    * see these keys through `newHadoopConf()`. Same files, same `.crc`
    * checksums, same rename-without-overwrite guarantee.
    */
  private def useForklessLocalFs(spark: SparkSession): Unit =
    ForklessLocalFs.hadoopConf.foreach { case (k, v) => spark.conf.set(k, v) }

  val silverSchema: StructType =
    StructType(Rides.rideSchema.fields ++ Seq(
      StructField("trip_duration_seconds", LongType),
      StructField("trip_distance_km", DoubleType),
      StructField("is_suspicious", BooleanType))) // Rides.silverColumns order

  final case class Paths(raw: String, bronze: String, silver: String,
                         gold: String, checkpoints: String)

  /** Bronze: raw JSON dir → CAST projection → parquet append
    * (01_bronze_realtime_rides.py:66-90).
    */
  def bronzeQuery(spark: SparkSession, p: Paths,
                  trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                  maxFilesPerTrigger: Option[Int] = None)
      : StreamingQuery = {
    useForklessLocalFs(spark)
    // maxFilesPerTrigger caps each micro-batch's file intake (the
    // file-source analog of Kafka's maxOffsetsPerTrigger) — under
    // Trigger.AvailableNow it splits a backlog drain into bounded
    // batches instead of one giant catch-up batch, which is both the
    // production restart posture and what StreamScaleProof measures.
    val reader = spark.readStream.schema(rawSchema)
    maxFilesPerTrigger.foreach(k => reader.option("maxFilesPerTrigger", k))
    val raw = reader.json(p.raw)
    Medallion.bronzeProject(raw)
      .writeStream
      .format("parquet")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"${p.checkpoints}/bronze")
      .trigger(trigger)
      .start(p.bronze)
  }

  /** Silver: bronze parquet → parse/clean/watermark/dedup/flag →
    * parquet append (02_silver_realtime_rides.py:41-118).
    */
  def silverQuery(spark: SparkSession, p: Paths,
                  trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
                  maxFilesPerTrigger: Option[Int] = None)
      : StreamingQuery = {
    useForklessLocalFs(spark)
    val reader = spark.readStream.schema(Rides.bronzeSchema)
    maxFilesPerTrigger.foreach(k => reader.option("maxFilesPerTrigger", k))
    val bronze = reader.parquet(p.bronze)
    Medallion.silverStage(bronze, streaming = true)
      .writeStream
      .format("parquet")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"${p.checkpoints}/silver")
      .trigger(trigger)
      .start(p.silver)
  }

  /** Gold: silver parquet → tumbling-window agg → foreachBatch merge
    * into the upsert table (03_gold_realtime_rides.py:33-128).
    *
    * `bounded = false` (default) reproduces the reference faithfully:
    * complete output mode, unbounded window state (SURVEY.md §2.9 T4).
    * `bounded = true` is the scale-safe variant: a 10-minute watermark
    * with update mode, emitting only changed windows per batch — state
    * and per-batch merge work stay O(active windows).
    *
    * The window aggregate runs, and commits its state store, inside
    * each job that evaluates the foreachBatch DataFrame. The sink's
    * merge reads that DataFrame more than once, so
    * [[ParquetUpsertSink.upsert]] materializes it once per call: one
    * state commit per micro-batch, however many times the merge reads.
    */
  def goldQuery(spark: SparkSession, p: Paths,
                trigger: Trigger = Trigger.ProcessingTime("45 seconds"),
                bounded: Boolean = false,
                partitioned: Boolean = false,
                maxFilesPerTrigger: Option[Int] = None,
                afterBatch: Long => Unit = _ => (),
                retainVersions: Int = 2,
                autoCompact: Option[graft.operators.AutoCompact] = None)
      : StreamingQuery = {
    // `afterBatch` runs AFTER the sink commit but BEFORE Spark marks
    // the micro-batch complete in the checkpoint — the slot for batch
    // callbacks (metrics, alerting), and for fault injection in the
    // crash tests: a throw here is exactly the "died between sink
    // write and checkpoint commit" window the sink's batchId replay
    // protection exists for.
    useForklessLocalFs(spark)
    val reader = spark.readStream.schema(silverSchema)
    maxFilesPerTrigger.foreach(k => reader.option("maxFilesPerTrigger", k))
    val silver = reader.parquet(p.silver)
    // `partitioned` is the 100 TB layout: gold partitioned by window
    // date. NOTE: the O(touched partitions) rewrite benefit requires
    // pairing with `bounded = true` — in the default complete mode
    // every batch re-emits ALL windows, touching every partition; the
    // bounded (watermark + update) variant emits only changed windows.
    // `retainVersions` > 2 is the CDC-consumer configuration: a
    // downstream changeFeed reader needs its `from` version to
    // survive the commits that land while it catches up (the Delta
    // retention analog). The default keeps the minimal 2-version
    // window for plain readers.
    // `autoCompact`: every micro-batch commit that fragments the
    // table past the budget compacts immediately — the long-running-
    // stream configuration, since 45 s batches accumulate small files
    // forever otherwise. Versioned layout: snapshot-level OPTIMIZE;
    // partitioned layout: per-partition compaction of any directory
    // whose file count exceeds the budget (under the writer lock the
    // upsert already holds).
    val sink =
      if (partitioned)
        new ParquetUpsertSink(p.gold, Rides.goldKey, Some("window_date"),
          retainVersions = retainVersions, autoCompact = autoCompact)
      else new ParquetUpsertSink(p.gold, Rides.goldKey,
        retainVersions = retainVersions, autoCompact = autoCompact)
    val input =
      if (bounded) silver.withWatermark("event_timestamp", Rides.watermarkDelay)
      else silver
    val agg = Medallion.goldAggregate(input)
    agg.writeStream
      .outputMode(if (bounded) OutputMode.Update else OutputMode.Complete)
      .option("checkpointLocation", s"${p.checkpoints}/gold")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out =
          if (partitioned)
            batch.withColumn("window_date", to_date(col("window_start")))
          else batch
        sink.upsert(spark, out, batchId)
        afterBatch(batchId)
      }
      .start()
  }

  /** Beyond-reference streaming analytics: event-time sessionization
    * of the silver stream — 30-minute inactivity gap per driver. In
    * streaming mode the watermark closes sessions (append output
    * emits a session exactly once, when the watermark passes its
    * end + gap); the same stage over a batch DataFrame computes the
    * identical result set eagerly (oracle query
    * `session_windows_30m` is the events-table analog).
    */
  def driverSessions(silver: DataFrame): DataFrame = {
    val in =
      if (silver.isStreaming)
        silver.withWatermark("event_timestamp", Rides.watermarkDelay)
      else silver
    in.groupBy(session_window(col("event_timestamp"), "30 minutes"),
        col("driver_id"))
      .agg(count(lit(1)).as("rides"),
        round(sum(col("fare")), 2).as("session_fare"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("driver_id"), col("rides"), col("session_fare"))
  }

  /** Run the full chain over whatever data is already in `p.raw` and
    * stop when drained (Trigger.AvailableNow) — deterministic
    * batch-equivalent execution of the streaming topology for tests.
    */
  def runDrain(spark: SparkSession, p: Paths,
               goldRetainVersions: Int = 2): Unit = {
    val b = bronzeQuery(spark, p, Trigger.AvailableNow)
    b.awaitTermination()
    val s = silverQuery(spark, p, Trigger.AvailableNow)
    s.awaitTermination()
    val g = goldQuery(spark, p, Trigger.AvailableNow,
      retainVersions = goldRetainVersions)
    g.awaitTermination()
  }
}
