package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, ModelJoin, Similarity}
import graft.sources.CorpusGenerator

/** corpus_dedup: the data-bound dedup and ANN kernels over a generated
  * corpus, in pipeline order — pair kernel, connected-component
  * survivors, a two-turn admission that writes its store, then IVF top-k
  * and k-means, which read.
  */
object CorpusDedup {
  val Docs = 10000L
  /** Nominal seconds per pass: a run of `--seconds` makes that many / PassS passes. */
  val PassS = 7.5
  val Threshold = 0.5
  val ShingleN = 3
  val MaxShingleDf = 32L
  /** Docs whose pairs the independent Jaccard check recomputes. */
  val CheckEvery = 7L

  final case class Pass(pairs: Array[Row], survivors: Long, dropped: Long,
                        admitted: Long, ivfRows: Long, kmeansRows: Long)

  private def write(df: DataFrame, dir: String): DataFrame = {
    df.write.parquet(dir)
    df.sparkSession.read.parquet(dir)
  }

  /** One pass; every operation's wall time is a latency sample. */
  private def pass(c: Ctx, docs: DataFrame, emb: DataFrame, n: Long, store: String,
                   timedPass: Boolean,
                   opTimes: mutable.Map[String, mutable.ArrayBuffer[Double]]): Pass = {
    val spark = c.spark
    def tag(name: String) = if (timedPass) name else s"warmup.$name"
    def sample(name: String, s: Double): Unit =
      if (timedPass) opTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    val passStart = System.nanoTime()
    def ready(name: String): Unit = sample(s"ready.$name", (System.nanoTime() - passStart) / 1e9)
    def time[T](name: String)(body: => T): T = {
      val (r, s) = Bench.timed(c.op(tag(name))(body))
      sample(name, s)
      ready(name)
      r
    }
    val (pairs, pairSchema) = time("functions.dedup.jaccard_pairs") {
      val df = Dedup.jaccardPairs(Dedup.docShingleHashes(docs, "doc_id", "text", ShingleN),
        Threshold, maxShingleDf = MaxShingleDf)
      (df.collect(), df.schema)
    }
    val pairDf = spark.createDataFrame(spark.sparkContext.parallelize(pairs.toSeq, 1), pairSchema)
    val (survivors, dropped) = time("functions.dedup.survivors") {
      val drop = Dedup.connectedComponents(pairDf)
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id")).localCheckpoint(true)
      val kept = ModelJoin.sizeGated(docs, drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
      (kept.count(), drop.count())
    }
    // two admission turns against one store: the first creates it, the
    // second admits the upper half of the id range against it
    val half = n / 2
    val (admittedDf, constructS) = Bench.timed(c.op(tag("functions.dedup.admission_construct")) {
      val a1 = Dedup.nearDupFilterBatch(docs.filter(col("doc_id") < half), store,
        "doc_id", "text", manifestStore = true).select(col("doc_id"))
      val a2 = Dedup.nearDupFilterBatch(docs.filter(col("doc_id") >= half), store,
        "doc_id", "text").select(col("doc_id"))
      a1.unionAll(a2)
    })
    val (admitted, execS) = Bench.timed(c.op(tag("functions.dedup.admission_exec"))(admittedDf.count()))
    sample("functions.dedup.admission_construct", constructS)
    sample("functions.dedup.admission_exec", execS)
    sample("functions.dedup.admission", constructS + execS)
    ready("functions.dedup.admission")
    val ivfRows = time("functions.similarity.ivf_topk")(
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), 5,
        nCells = math.max(16, math.sqrt(n.toDouble).toInt), nProbe = 4).count())
    val kmeansRows = time("functions.similarity.kmeans")(Similarity.kmeans(emb, 8, 2)._1.count())
    Pass(pairs, survivors, dropped, admitted, ivfRows, kmeansRows)
  }

  private def shingles(text: String): Set[String] =
    text.split("\\s+").filter(_.nonEmpty).sliding(ShingleN).filter(_.length == ShingleN)
      .map(_.mkString(" ")).toSet

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val seed = c.args.seed
    val dir = s"${c.tmp}/corpus"
    val setupT0 = System.nanoTime()
    val opTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val ((docs, emb), genS) = Bench.timed(c.op("sources.generate")(
      (write(CorpusGenerator.documents(spark, Docs, seed = seed), s"$dir/documents.parquet"),
        write(CorpusGenerator.embeddings(spark, Docs, seed = seed), s"$dir/embeddings.parquet"))))
    c.report.layer("sources.generate_s") = genS
    // warm-up: one untimed pass (codegen, JIT, footers)
    c.op("workload.corpus_dedup.warmup")(
      pass(c, docs, emb, Docs, s"$dir/warm_store", timedPass = false, opTimes))
    c.report.setupS = (System.nanoTime() - setupT0) / 1e9

    // a fixed number of passes for the run's length, so every run takes the
    // same median; a traced run alternates untraced and traced passes,
    // starting and ending untraced so the warming trend cancels, and their
    // walls give the tracing overhead
    val passes = math.max(if (c.trace) 3 else 1, math.round(c.args.seconds / PassS).toInt)
    val walls = Seq(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    var last: Pass = null
    for (k <- 0 until passes) {
      val traced = c.trace && k % 2 == 1
      c.tracing(traced)
      val (r, s) = Bench.timed(c.tracer.span("workload.corpus_dedup.pass")(
        pass(c, docs, emb, Docs, s"$dir/store$k", timedPass = true, opTimes)))
      walls(if (traced) 1 else 0) += s
      last = r
    }
    c.tracing(false)
    // a result's latency is the time from the start of a pass until it is
    // ready, median over the passes; an operation's layer time is its own
    // wall, median over the passes
    val l = c.report.layer
    opTimes.foreach { case (op, ts) =>
      if (op.startsWith("ready.")) c.report.latencies += Stats.median(ts.toSeq)
      else l(s"${op}_s") = Stats.median(ts.toSeq)
    }
    c.report.throughputs += Docs / Stats.median((walls(0) ++ walls(1)).toSeq)
    if (c.trace) l("trace.overhead_ratio") = Stats.median(walls(1).toSeq) / Stats.median(walls(0).toSeq)
    val tracedPasses = math.max(1, walls(1).size)
    l("workload.passes") = passes
    l("functions.dedup.pairs") = last.pairs.length
    l("functions.dedup.admitted_ratio") = last.admitted.toDouble / Docs

    // correctness
    val r = last
    c.report.check("survivors + dropped = docs", r.survivors + r.dropped == Docs,
      s"${r.survivors} + ${r.dropped} != $Docs")
    c.report.check("pair kernel found near duplicates", r.pairs.nonEmpty, "no pairs")
    c.report.check("admission admitted a proper subset", r.admitted > 0 && r.admitted < Docs,
      s"${r.admitted} of $Docs")
    c.report.check("ivf top-k returns k rows per query", r.ivfRows == 8 * 5, s"${r.ivfRows} rows")
    c.report.check("k-means assigns every vector", r.kmeansRows == Docs, s"${r.kmeansRows} rows")
    // independent Jaccard over a fixed id sample: every emitted pair there
    // is at or above the threshold, and the kernel's value is exact
    val sample = r.pairs.filter(p => p.getAs[Long]("doc_a") % CheckEvery == 0)
    val ids = sample.flatMap(p => Seq(p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))).distinct
    val texts = docs.filter(col("doc_id").isin(ids.toIndexedSeq: _*)).select("doc_id", "text").collect()
      .map(t => t.getLong(0) -> shingles(t.getString(1))).toMap
    val bad = sample.filter { p =>
      val (a, b) = (texts(p.getAs[Long]("doc_a")), texts(p.getAs[Long]("doc_b")))
      val j = (a & b).size.toDouble / (a | b).size
      // the kernel rounds its output to 6 dp; the intersection is exact
      j < Threshold || (a & b).size != p.getAs[Long]("inter") ||
        math.abs(j - p.getAs[Double]("jaccard")) > 5e-7 + 1e-12
    }
    c.report.check("sampled pairs recompute to the reported Jaccard >= threshold",
      sample.nonEmpty && bad.isEmpty, s"${bad.length} of ${sample.length} pairs differ")
    l("functions.dedup.checked_pairs") = sample.length

    if (c.trace) Seq("functions.dedup.jaccard_pairs", "functions.dedup.survivors",
      "functions.dedup.admission", "functions.similarity.ivf_topk",
      "functions.similarity.kmeans").foreach { op =>
      val s = c.engine.summary(op)
      val key = "engine." + op.stripPrefix("functions.")
      l(s"$key.jobs") = s.jobs.toDouble / tracedPasses
      l(s"$key.shuffle_write_mb") = s.shuffleWriteMb / tracedPasses
      l(s"$key.spill_mb") = s.spillMb / tracedPasses
      l(s"$key.task_skew") = s.taskSkew
    }
  }
}
