package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, ModelJoin, Similarity}
import graft.sources.CorpusGenerator

/** Dev-only PARALLEL-SCALING ledger: run the heavy operator kernels
  * over a generated corpus big enough not to be scheduling-bound, at
  * the core count `SPARK_GRAFT_CPUS` gives, and print one JSON line of
  * per-operator seconds. Invoked twice (e.g. 8 and 32 cores) against
  * the SAME work dir, the two lines give each operator's measured
  * core-scaling ratio — the evidence the sf0.1 bench cannot produce
  * (every row there is sub-second and fixed-overhead-bound, so its
  * 8v32 ratios sit at ≈1 regardless of the operators' actual
  * parallelism).
  *
  * The corpus is generated deterministically into `workDir` on first
  * use and re-read from parquet after (generation is never timed).
  * Operators mirror the bench rows' shapes via the same public
  * pipeline functions; times are min-of-`reps` noop materializations
  * after one untimed codegen warm-up, the bench's methodology.
  *
  * Usage: runMain graft.tools.CoreScaling <workDir> <nDocs> [reps]
  */
object CoreScaling {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val n = args(1).toLong
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dDir = s"$work/documents_$n.parquet"
    val eDir = s"$work/embeddings_$n.parquet"
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ensure(dir: String, df: => DataFrame): Unit =
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")))
        df.write.mode("overwrite").parquet(dir)
    ensure(dDir, CorpusGenerator.documents(spark, n))
    ensure(eDir, CorpusGenerator.embeddings(spark, n))
    val docs = spark.read.parquet(dDir)
    val emb = spark.read.parquet(eDir)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def time(name: String)(f: () => DataFrame): Unit = {
      spark.sparkContext.setJobDescription(s"core-scaling: $name")
      noop(f()) // untimed warm-up (codegen, footers)
      val best = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        noop(f())
        (System.nanoTime() - t0) / 1e9
      }.min
      results(name) = best
      spark.sparkContext.setJobDescription(null)
    }

    def pairs(): DataFrame = Dedup.jaccardPairs(
      Dedup.docShingleHashes(docs, "doc_id", "text", 3),
      0.5, maxShingleDf = 32)

    time("jaccard_pairs")(() => pairs())
    time("neardup_survivors") { () =>
      val drop = Dedup.connectedComponents(pairs())
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      ModelJoin.sizeGated(docs, drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }
    time("dup_span_fraction")(() =>
      Dedup.dupSpanFraction(docs, "doc_id", "text", 8))
    time("minhash_admission") { () =>
      val store = s"$work/adm-${java.util.UUID.randomUUID().toString.take(8)}"
      val r = docs.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val thr = (r.getLong(0) + r.getLong(1)) / 2
      val a1 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") <= thr), store, "doc_id", "text")
        .select(col("doc_id"), lit(1L).as("batch"))
      val a2 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") > thr), store, "doc_id", "text")
        .select(col("doc_id"), lit(2L).as("batch"))
      a1.unionAll(a2)
    }
    time("tfidf_topk") { () =>
      val words = docs
        .select(col("doc_id"),
          explode(graft.functions.Text.tokens(col("text"))).as("word"))
      val tf = words.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf")).localCheckpoint(true)
      val dfreq = tf.groupBy(col("word"))
        .agg(count(lit(1)).as("df")).localCheckpoint(true)
      val nDocs = docs.count().toDouble
      val scored = ModelJoin.sizeGated(tf, dfreq, Seq("word"))
        .select(col("doc_id"), col("word"),
          graft.functions.Hashing.portableRound(
            col("tf").cast("double") *
              log(lit(nDocs) / col("df").cast("double")), 6).as("tfidf"))
      graft.plans.TopKPerKey(scored, Seq("doc_id"),
        Seq(graft.plans.TopKPerKey.desc("tfidf"),
          graft.plans.TopKPerKey.asc("word")), 3)
    }
    time("bigram_logprob")(() =>
      graft.functions.LangModel.bigramLogprob(docs, "doc_id", "text"))
    time("kmeans_topics") { () =>
      val (assigned, _) = Similarity.kmeans(emb, 8, 2)
      assigned
    }
    time("ivf_topk")(() =>
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), 5,
        nCells = math.max(16, math.sqrt(n.toDouble).toInt), nProbe = 4))

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"tool":"core_scaling","cpus":$cpus,"n":$n,"reps":$reps,"ops":$qs}""")
    spark.stop()
  }
}
