package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Streaming observability (the reference's console monitoring cell,
  * /root/reference/src/04_monitor_streams.py style `lastProgress`
  * polling, as a first-class listener): collects per-query progress —
  * batchId, input rows, processing rate, event-time watermark — and
  * can render a console summary on demand.
  *
  * The listener is push-based (no polling thread) and keeps a bounded
  * ring of recent progress per query, so it is safe to leave attached
  * to long-running production queries: memory is O(queries × keep).
  */
class QueryMonitor(keep: Int = 16) extends StreamingQueryListener {

  /** `stateRows` / `droppedByWatermark` sum the batch's
    * StateOperatorProgress entries — the two numbers that make
    * watermark health OBSERVABLE: state that only grows means the
    * watermark never advances (an eviction leak); a nonzero drop count
    * is data arriving beyond the lateness bound (silently discarded —
    * the thing an operator must alarm on, reference monitor cell
    * 04_monitor_streams.py).
    *
    * `stateCommitMs` / `stateStoreInstances` sum the same entries'
    * commit time and store count. A stateful operator evaluated once
    * per batch opens one store per shuffle partition; more instances
    * than that means a sink re-ran the upstream plan, committing its
    * state again each time.
    *
    * `logCommitMs` is the batch's checkpoint-log time: the offset WAL
    * write (`walCommit`) plus the commit-log write (`commitOffsets`).
    */
  final case class Snapshot(name: String, batchId: Long, numInputRows: Long,
                            rowsPerSec: Double, watermark: String,
                            timestamp: String,
                            stateRows: Long = 0L,
                            droppedByWatermark: Long = 0L,
                            stateCommitMs: Long = 0L,
                            stateStoreInstances: Long = 0L,
                            logCommitMs: Long = 0L)

  final case class Termination(id: java.util.UUID, exception: Option[String],
                               lastProgress: Option[Snapshot])

  private val progress =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID,
      java.util.ArrayDeque[Snapshot]]()
  @volatile private var terminated = List.empty[Termination]

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    progress.putIfAbsent(event.id, new java.util.ArrayDeque[Snapshot]())

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val snap = Snapshot(
      Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
      p.processedRowsPerSecond,
      Option(p.eventTime.get("watermark")).getOrElse(""),
      p.timestamp,
      stateRows = p.stateOperators.map(_.numRowsTotal).sum,
      droppedByWatermark =
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
      stateCommitMs = p.stateOperators.map(_.commitTimeMs).sum,
      stateStoreInstances =
        p.stateOperators.map(_.numStateStoreInstances.toLong).sum,
      logCommitMs = Seq("walCommit", "commitOffsets")
        .flatMap(k => Option(p.durationMs.get(k))).map(_.longValue).sum)
    val ring = progress.computeIfAbsent(p.id,
      _ => new java.util.ArrayDeque[Snapshot]())
    ring.synchronized {
      ring.addLast(snap)
      while (ring.size > keep) ring.removeFirst()
    }
  }

  override def onQueryIdle(event: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    // Evict the terminated query's ring, keeping only its FINAL
    // snapshot in the bounded termination log: under query churn (new
    // checkpoint = new id) state must stay O(active + 64), or "safe to
    // leave attached" would be a lie — while post-mortem inspection of
    // a just-finished query still works.
    val ring = progress.remove(event.id)
    val last = Option(ring).flatMap(r => r.synchronized {
      if (r.isEmpty) None else Some(r.peekLast())
    })
    terminated =
      (Termination(event.id, event.exception, last) :: terminated).take(64)
  }

  /** Latest snapshot per tracked query — active queries plus the
    * final snapshots of (up to 64) recently terminated ones.
    */
  def latest: Map[java.util.UUID, Snapshot] = {
    import scala.jdk.CollectionConverters._
    val finished = terminated
      .flatMap(t => t.lastProgress.map(t.id -> _)).toMap
    val active = progress.asScala.flatMap { case (id, ring) =>
      val last = ring.synchronized {
        if (ring.isEmpty) None else Some(ring.peekLast())
      }
      last.map(id -> _)
    }.toMap
    finished ++ active
  }

  /** Full retained history for one query id. */
  def history(id: java.util.UUID): Seq[Snapshot] = {
    import scala.jdk.CollectionConverters._
    Option(progress.get(id))
      .map(r => r.synchronized(r.asScala.toVector))
      .getOrElse(Vector.empty)
  }

  def terminations: List[Termination] = terminated

  /** Console one-liner per query — the reference notebook's monitor
    * cell output, minus the notebook.
    */
  def render(): String =
    latest.values.toSeq.sortBy(_.name).map { s =>
      f"${s.name}%-24s batch=${s.batchId}%-5d rows=${s.numInputRows}%-7d " +
        f"rate=${s.rowsPerSec}%10.1f/s state=${s.stateRows}%-7d " +
        f"late-dropped=${s.droppedByWatermark}%-6d " +
        f"stores=${s.stateStoreInstances}%-4d " +
        f"commit-ms=${s.stateCommitMs}%-6d log-ms=${s.logCommitMs}%-6d " +
        f"wm=${s.watermark}"
    }.mkString("\n")
}

object QueryMonitor {
  /** Attach a monitor to a session's streams. */
  def attach(spark: SparkSession, keep: Int = 16): QueryMonitor = {
    val m = new QueryMonitor(keep)
    spark.streams.addListener(m)
    m
  }
}
