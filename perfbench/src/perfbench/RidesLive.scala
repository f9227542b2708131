package perfbench

import java.io.File
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.model.Rides
import graft.operators.{Medallion, ParquetUpsertSink}
import graft.sources.RideGenerator
import graft.streaming.MedallionStream

/** rides_live: the medallion chain under an open-loop feed.
  *
  * A restart backlog is landed before the three stages start; they catch
  * up on it (cold, in one large batch per stage), then a feeder thread
  * moves one tick file into the raw dir every `TickMs`, on schedule,
  * never waiting for the pipeline. All stages run with the fastest
  * trigger, gold in its bounded (watermark + update) form, state in
  * RocksDB with the program's default settings.
  */
object RidesLive {
  val Rate = 2000
  val TickMs = 100
  val BacklogEvents = 8000L
  val BacklogFiles = 8
  /** Feed before the timed window (the warm-up ends once its last tick is
    * in gold), and the limits on warm-up and on the tail after the window.
    */
  val WarmupS = 2
  val MaxWarmupS = 40
  val MaxTailS = 25
  val Stages = Seq("bronze", "silver", "gold")

  /** A micro-batch that read data: its trigger interval, and `visible`,
    * when its output became readable downstream — the sink commit, which
    * precedes only the offset commit at the end of the trigger.
    */
  final case class Batch(start: Double, end: Double, visible: Double, p: StreamingQueryProgress)

  private def batches(ps: Seq[StreamingQueryProgress]): IndexedSeq[Batch] =
    ps.filter(_.numInputRows > 0).map { p =>
      val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val e = s + p.durationMs.get("triggerExecution").doubleValue
      Batch(s, e, e - dur(p, "commitOffsets"), p)
    }.toIndexedSeq

  private def dur(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  /** Gold arrival of data that landed at `at`, read from the outside: the
    * end of the first gold batch that started after the first silver batch
    * that started after the first bronze batch that started after `at` had
    * made its output visible. A downstream batch lists its source when it
    * starts, and the upstream sink commits before the upstream offset
    * commit ends the trigger, so "started after the upstream batch ended"
    * would skip the downstream batch that started in between and already
    * read the data.
    */
  def arrival(at: Double, bs: Seq[IndexedSeq[Batch]]): Option[Double] = for {
    b <- bs(0).find(_.start >= at)
    s <- bs(1).find(_.start >= b.visible)
    g <- bs(2).find(_.start >= s.visible)
  } yield g.end

  /** Write `sizes.sum` generated events, in id order, as one JSON file per
    * entry of `sizes` (file i holds the next `sizes(i)` ids).
    */
  def generate(spark: SparkSession, dir: String, sizes: Seq[Long],
               seed: Long): IndexedSeq[File] = {
    val parts = s"$dir/parts"
    RideGenerator.events(spark, sizes.sum, seed, numPartitions = 4).write.json(parts)
    val lines = new File(parts).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".json")).sortBy(_.getName)
      .iterator.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }
    sizes.zipWithIndex.map { case (n, i) =>
      val f = new File(dir, f"f_$i%05d.json")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try (0L until n).foreach(_ => w.println(lines.next())) finally w.close()
      f
    }.toIndexedSeq
  }

  private def move(f: File, dir: String, name: String): Unit = {
    f.setLastModified(System.currentTimeMillis())
    java.nio.file.Files.move(f.toPath, new File(dir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per-stage layer metrics from the stage's batches. */
  private def stageMetrics(c: Ctx, stage: String, bs: IndexedSeq[Batch],
                           upstream: Option[IndexedSeq[Batch]]): Unit = {
    val l = c.report.layer
    val k = s"streaming.$stage"
    def p50(f: Batch => Double) = if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
    l(s"$k.batches") = bs.size
    l(s"$k.batch_ms_p50") = p50(b => b.end - b.start)
    l(s"$k.batch_ms_p90") = if (bs.isEmpty) 0.0 else Stats.quantile(bs.map(b => b.end - b.start), 0.9)
    l(s"$k.list_ms_p50") = p50(b => dur(b.p, "latestOffset"))
    l(s"$k.plan_ms_p50") = p50(b => dur(b.p, "queryPlanning"))
    l(s"$k.exec_ms_p50") = p50(b => dur(b.p, "addBatch"))
    l(s"$k.wal_ms_p50") = p50(b => dur(b.p, "walCommit", "commitOffsets"))
    l(s"$k.rows_in") = bs.map(_.p.numInputRows.toDouble).sum
    upstream.foreach { up =>
      val lags = bs.flatMap(b => up.filter(_.end <= b.start).lastOption.map(u => b.end - u.end))
      l(s"$k.lag_ms_p50") = if (lags.isEmpty) 0.0 else Stats.median(lags)
    }
    if (stage != "bronze") {
      val ops = bs.map(_.p.stateOperators.toSeq)
      l(s"$k.state_rows_max") = (0.0 +: ops.map(_.map(_.numRowsTotal.toDouble).sum)).max
      l(s"$k.state_bytes_max") = (0.0 +: ops.map(_.map { so =>
        math.max(so.customMetrics.getOrDefault("rocksdbSstFileSize", 0L).toDouble,
          so.memoryUsedBytes.toDouble)
      }.sum)).max
      l(s"$k.state_commit_ms_p50") = p50(_.p.stateOperators.map(_.commitTimeMs.toDouble).sum)
      l(s"$k.dropped_by_watermark") = ops.map(_.map(_.numRowsDroppedByWatermark.toDouble).sum).sum
    }
    // gold's addBatch is the window aggregation, its state-store commit and
    // the foreachBatch ParquetUpsertSink.upsert; less the commit, it is the
    // upsert and the small aggregation that feeds it
    if (stage == "gold") l("operators.upsert.batch_ms_p50") =
      p50(b => dur(b.p, "addBatch") - b.p.stateOperators.map(_.commitTimeMs.toDouble).sum)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val perTick = Rate.toLong * TickMs / 1000
    val timedTicks = math.max(20, (c.args.seconds * 1000 / TickMs).toInt)
    // the feed never pauses: enough ticks for the longest warm-up and
    // tail this run allows, besides the timed window
    val nTicks = timedTicks + ((MaxWarmupS + MaxTailS) * 1000 / TickMs).toInt
    val root = s"${c.tmp}/live"
    val p = MedallionStream.Paths(raw = s"$root/raw", bronze = s"$root/bronze",
      silver = s"$root/silver", gold = s"$root/gold", checkpoints = s"$root/ckpt")
    val setupT0 = System.nanoTime()
    val (files, genS) = Bench.timed(c.op("sources.generate")(generate(spark, s"$root/staging",
      Seq.fill(BacklogFiles)(BacklogEvents / BacklogFiles) ++ Seq.fill(nTicks)(perTick),
      c.args.seed)))
    c.report.layer("sources.generate_s") = genS
    val (backlog, ticks) = files.splitAt(BacklogFiles)
    Seq(p.raw, p.bronze, p.silver).foreach(d => new File(d).mkdirs())
    backlog.zipWithIndex.foreach { case (f, i) => move(f, p.raw, f"backlog_$i%05d.json") }

    MedallionStream.useRocksDbStateStore(spark)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val started = System.currentTimeMillis().toDouble
    val qs = Seq(
      c.op("streaming.bronze")(MedallionStream.bronzeQuery(spark, p, Trigger.ProcessingTime(0))),
      c.op("streaming.silver")(MedallionStream.silverQuery(spark, p, Trigger.ProcessingTime(0))),
      c.op("streaming.gold")(MedallionStream.goldQuery(spark, p, Trigger.ProcessingTime(0),
        bounded = true)))
    def stageBatches = qs.map(q => batches(log.of(q.id)))

    // Open loop: tick i is due at t0 + i·TickMs whatever the pipeline does.
    val scheduled = Array.fill(nTicks)(Double.NaN)
    val landed = Array.fill(nTicks)(Double.NaN)
    val t0 = System.currentTimeMillis() + TickMs
    @volatile var stop = false
    @volatile var fedTicks = 0
    val feeder = new Thread(() => {
      var i = 0
      while (i < nTicks && !stop) {
        val due = t0 + i.toLong * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        move(ticks(i), p.raw, f"tick_$i%05d.json")
        landed(i) = System.currentTimeMillis().toDouble
        scheduled(i) = due.toDouble
        i += 1
        fedTicks = i
      }
    }, "perfbench-feeder")
    feeder.setDaemon(true)
    feeder.start()
    /** Block until data landed at `at` is in gold; false on timeout or a dead query. */
    def awaitGold(at: Double, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      var ok = false
      while (!ok && System.nanoTime() < deadline && qs.forall(_.isActive)) {
        org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
        ok = arrival(at, stageBatches).isDefined
        if (!ok) Thread.sleep(50)
      }
      ok
    }
    def sleepUntil(ms: Double): Unit = {
      val wait = (ms - System.currentTimeMillis()).toLong
      if (wait > 0) Thread.sleep(wait)
    }

    // set-up, billed to setup_s: the cold catch-up on the backlog, with
    // the first ticks queued behind it. It ends once the queue is worked
    // off: the tick that landed `WarmupS` into the feed is in gold, and
    // then the tick that landed at that moment is in gold too.
    sleepUntil((t0 + WarmupS * 1000L).toDouble)
    val warmDeadline = System.nanoTime() + MaxWarmupS * 1000000000L
    def warmLeftS = (warmDeadline - System.nanoTime()) / 1e9
    val warmOk = awaitGold(landed(fedTicks - 1), warmLeftS) &&
      awaitGold(landed(fedTicks - 1), warmLeftS)
    c.report.check("warm-up ticks reached gold", warmOk, "timed out")
    c.report.setupS = (System.nanoTime() - setupT0) / 1e9

    // the timed window: the next `timedTicks` ticks. A traced run leaves
    // its first half untraced, and the two halves give the tracing overhead.
    val first = ((System.currentTimeMillis() - t0) / TickMs).toInt + 1
    val timed = first until first + timedTicks
    c.report.check("the feed has ticks for the timed window and its tail",
      timed.last < nTicks - MaxTailS * 1000 / TickMs, s"warm-up ended at tick $first")
    val tracedFrom = if (c.trace) first + timedTicks / 2 else timed.end
    if (c.trace) {
      sleepUntil(t0 + tracedFrom.toDouble * TickMs)
      c.tracing(true)
    }
    sleepUntil(t0 + timed.last.toDouble * TickMs + 1)
    while (fedTicks <= timed.last && feeder.isAlive) Thread.sleep(5)
    val feedEnd = System.currentTimeMillis().toDouble
    val doneOk = awaitGold(landed(timed.last), MaxTailS)
    c.report.check("every timed tick reached gold", doneOk, "timed out")
    stop = true
    feeder.join()
    // let the stages drain what was fed, so the checks see all of it:
    // bronze has read every fed event, silver every bronze row, gold every
    // silver row
    val fed = BacklogEvents + landed.count(!_.isNaN) * perTick
    def rowsIn(i: Int) = log.of(qs(i).id).map(_.numInputRows).sum
    val drainDeadline = System.nanoTime() + (MaxTailS * 1e9).toLong
    var drained = false
    while (!drained && System.nanoTime() < drainDeadline && qs.forall(_.isActive)) {
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      drained = rowsIn(0) == fed && rowsIn(1) == fed &&
        rowsIn(2) == spark.read.parquet(p.silver).count()
      if (!drained) Thread.sleep(200)
    }
    c.report.check("the stages drained the feed", drained, "timed out")
    qs.foreach(_.stop())
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    qs.zip(Stages).foreach { case (q, s) =>
      c.report.check(s"$s query ended without an exception",
        q.exception.isEmpty && log.failed.isEmpty,
        (q.exception.map(_.getMessage).toSeq ++ log.failed).mkString("; "))
    }

    val bs = stageBatches
    arrival(started, bs).foreach(g => c.report.layer("streaming.catchup_s") = (g - started) / 1e3)
    val arrivals = timed.map(i => arrival(landed(i), bs))
    c.report.check("every timed tick has a gold arrival", arrivals.forall(_.isDefined),
      s"${arrivals.count(_.isEmpty)} ticks without one")
    val fresh = timed.zip(arrivals).collect { case (i, Some(g)) => i -> (g - scheduled(i)) / 1e3 }
    val (untracedHalf, tracedHalf) = fresh.partition(_._1 < tracedFrom)
    c.report.latencies ++= fresh.map(_._2)
    if (tracedHalf.nonEmpty && untracedHalf.nonEmpty)
      c.report.layer("trace.overhead_ratio") =
        Stats.median(tracedHalf.map(_._2)) / Stats.median(untracedHalf.map(_._2))
    // sustained throughput: the rate over the least-squares slope of gold
    // arrival against schedule. It is a saturation check, not a capacity
    // figure: while gold keeps pace (slope 1) it reads the feed rate, and
    // it falls below it only once the chain cannot keep up
    val xy = timed.zip(arrivals).collect { case (i, Some(g)) => (scheduled(i), g) }
    if (xy.size >= 2) {
      val mx = xy.map(_._1).sum / xy.size
      val my = xy.map(_._2).sum / xy.size
      val slope = xy.map { case (x, y) => (x - mx) * (y - my) }.sum /
        xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
      c.report.throughputs += Rate / slope
    }

    val l = c.report.layer
    l("sources.feeder_late_ms_max") = timed.map(i => landed(i) - scheduled(i)).max
    l("streaming.backlog_files_end") = timed.zip(arrivals).count { case (i, a) =>
      landed(i) <= feedEnd && a.forall(_ > feedEnd) }
    val inWindow = bs.map(_.filter(b => b.start >= scheduled(first) && b.start <= feedEnd))
    Stages.indices.foreach { i =>
      stageMetrics(c, Stages(i), inWindow(i), if (i == 0) None else Some(bs(i - 1)))
      inWindow(i).foreach(b => c.tracer.record(s"streaming.${Stages(i)}.batch", b.start, b.end))
    }
    // engine counters of the traced half, per batch
    if (c.trace) Stages.indices.foreach { i =>
      val e = c.engine.summary(s"streaming.${Stages(i)}")
      val n = math.max(1, bs(i).count(_.start >= t0 + tracedFrom.toDouble * TickMs))
      l(s"engine.streaming.${Stages(i)}.jobs") = e.jobs.toDouble / n
      l(s"engine.streaming.${Stages(i)}.shuffle_write_mb") = e.shuffleWriteMb / n
      l(s"engine.streaming.${Stages(i)}.task_skew") = e.taskSkew
    }
    c.tracing(false)

    // correctness: nothing lost or doubled between the stages
    val bronzeRows = spark.read.parquet(p.bronze).count()
    c.report.check("bronze holds every fed event", bronzeRows == fed, s"$bronzeRows != $fed")
    val silver = spark.read.parquet(p.silver)
    val dups = silver.groupBy("ride_id", "event_timestamp").count().filter(col("count") > 1).count()
    c.report.check("silver has no duplicate (ride_id, event_timestamp)", dups == 0,
      s"$dups duplicate keys")
    // Gold may lose only rows its watermark dropped: every gold window is
    // the batch aggregate's window with at most fewer rides, a window it
    // kept whole matches it exactly, and the rides lost are no more than
    // the rows Spark reports as dropped by the watermark.
    val dropped = log.of(qs(2).id).map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    val expected = Medallion.goldAggregate(silver).as("e")
    val gold = new ParquetUpsertSink(p.gold, Rides.goldKey).read(spark).as("g")
    val joined = expected.join(gold, Rides.goldKey, "full_outer")
    val bad = joined.filter(col("e.total_rides_hourly").isNull ||
      coalesce(col("g.total_rides_hourly"), lit(0L)) > col("e.total_rides_hourly") ||
      (col("g.total_rides_hourly") === col("e.total_rides_hourly") &&
        (col("g.avg_fare_hourly") =!= col("e.avg_fare_hourly") ||
          col("g.total_suspicious_rides_hourly") =!= col("e.total_suspicious_rides_hourly")))).count()
    val lost = joined.agg(sum(col("e.total_rides_hourly") -
      coalesce(col("g.total_rides_hourly"), lit(0L)))).head().getLong(0)
    c.report.check("gold windows match goldAggregate over silver up to watermark drops",
      bad == 0 && lost >= 0 && lost <= dropped,
      s"$bad windows disagree; $lost rides lost, $dropped rows dropped by the watermark")
    l("checks.gold_rides_lost") = lost.toDouble

    // the traced run adds the query battery, for the entry layer
    if (c.trace) QueryBattery.run(c)
  }
}
