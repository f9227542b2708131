package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One layer call: name, wall-clock interval, and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder. Spans are kept until the run ends and are
  * written once; when tracing is off `span` only runs its body.
  */
final class Tracer {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue() = 0 }
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble

  private def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val start = nowMs
      current.set(id)
      try body
      finally {
        current.set(parent)
        spans.add(Span(id, parent, name, start, nowMs))
      }
    }

  /** Record an interval measured elsewhere (stream batches). */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0, name, startMs, endMs))

  def writeJsonl(path: String): Int = {
    val all = spans.asScala.toSeq.sortBy(_.startMs)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs))))
    } finally w.close()
    all.size
  }
}

/** Per-tag job, shuffle, spill and task-time counters. A tag is the
  * `perfbench.tag` local property of the thread that submitted the job;
  * threads inherit it, so a streaming query started under a tag keeps it.
  */
final class EngineListener extends SparkListener {
  final class Agg {
    var jobs = 0
    var jobWallMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val byTag = mutable.Map.empty[String, Agg]
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  private def agg(tag: String) = byTag.getOrElseUpdate(tag, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(EngineListener.TagKey)))
      .getOrElse("untagged")
    agg(tag).jobs += 1
    jobStart(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (tag, t0) => agg(tag).jobWallMs += e.time - t0 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageTag.getOrElse(e.stageId, "untagged"))
    a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Counters of every tag starting with `prefix`, merged. */
  def summary(prefix: String): EngineListener.Summary = synchronized {
    val as = byTag.collect { case (t, a) if t.startsWith(prefix) => a }
    val stages = as.flatMap(_.stageTaskMs.values).toSeq
    val skew =
      if (stages.isEmpty) 0.0
      else {
        val heaviest = stages.maxBy(_.sum)
        heaviest.max.toDouble / math.max(1.0, Stats.median(heaviest.map(_.toDouble).toSeq))
      }
    EngineListener.Summary(as.map(_.jobs).sum, as.map(_.jobWallMs).sum / 1e3,
      as.map(_.shuffleWriteBytes).sum / 1e6, as.map(_.spillBytes).sum / 1e6, skew)
  }
}

object EngineListener {
  val TagKey = "perfbench.tag"

  final case class Summary(jobs: Int, jobWallS: Double, shuffleWriteMb: Double,
                           spillMb: Double, taskSkew: Double)

  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prev)
  }
}

/** Keeps every progress event of every streaming query (not a ring:
  * freshness accounting needs the whole history) and every termination.
  */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val failures = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failures.add(x))

  def of(id: java.util.UUID): IndexedSeq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toIndexedSeq.sortBy(_.batchId)

  def failed: Seq[String] = failures.asScala.toSeq
}
