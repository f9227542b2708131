package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What one workload run reports back to the runner. */
final class Report {
  /** End-to-end latency samples (seconds), one per operation. */
  val latencies = mutable.ArrayBuffer.empty[Double]
  /** Work units (events or docs) completed per second, per pass. */
  val throughputs = mutable.ArrayBuffer.empty[Double]
  /** Seconds from after the Spark session started until timing began. */
  var setupS = Double.NaN
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** One correctness check or operation: counts as attempted, and as
    * failed unless `ok`.
    */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failures += s"$name: $detail"
  }

}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, cores: Int, tmp: String, out: String,
                      data: String)

/** Benchmark JVM entry: runs one workload once and writes its report as
  * one JSON object to `--out`. `perfbench/run.py` builds, launches and
  * summarises it.
  */
object Bench {
  /** VmHWM of this JVM in MB: its peak resident set. */
  def peakRssMb: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.get finally src.close()
  }.getOrElse(Double.NaN)

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse")
      .config("graft.stage.dir", s"${a.tmp}/stage")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("cores", "4").toInt, need("tmp"), need("out"),
      m.getOrElse("data", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val report = new Report
    val (spark, sessionS) = timed(session(a))
    val ctx = Ctx(spark, a, report, new Tracer, new EngineListener)
    try {
      a.workload match {
        case "rides_live" => RidesLive.run(ctx)
        case "corpus_dedup" => CorpusDedup.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
    } catch { case e: Throwable =>
      report.failures += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
      report.attempted += 1
      e.printStackTrace()
    }
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    val rss = peakRssMb
    val spansFile = s"${a.tmp}/spans.jsonl"
    val nSpans = if (a.trace) ctx.tracer.writeJsonl(spansFile) else 0
    val d = (k: String, v: Double) => k -> Json.num(v)
    // the end-to-end metrics; absent when the run measured nothing
    val e2e =
      if (report.latencies.isEmpty || report.throughputs.isEmpty || report.setupS.isNaN) Nil
      else Seq(
        d("setup_s", sessionS + report.setupS),
        d("latency_p50_s", Stats.quantile(report.latencies.toSeq, 0.5)),
        d("latency_p90_s", Stats.quantile(report.latencies.toSeq, 0.9)),
        d("throughput_per_s", Stats.median(report.throughputs.toSeq)))
    val out = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed.toDouble),
      "cores" -> Json.num(a.cores),
      "end_to_end" -> Json.obj(e2e),
      d("peak_rss_mb", rss),
      "attempted" -> Json.num(report.attempted.toDouble),
      "failures" -> Json.arr(report.failures.map(Json.str).toSeq),
      "layer" -> Json.obj(report.layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.num(nSpans)))
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, args: Args, report: Report,
                     tracer: Tracer, engine: EngineListener) {
  def tmp: String = args.tmp
  def trace: Boolean = args.trace
  /** Run `body` with its jobs tagged and, when tracing, inside a span. */
  def op[T](tag: String)(body: => T): T =
    tracer.span(tag)(EngineListener.tagged(spark.sparkContext, tag)(body))

  /** Turn spans and engine counters on or off; a traced run measures
    * part of its timed work untraced, for the tracing overhead.
    */
  def tracing(on: Boolean): Unit = if (trace && on != tracer.enabled) {
    tracer.enabled = on
    if (on) spark.sparkContext.addSparkListener(engine)
    else {
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(engine)
    }
  }
}
