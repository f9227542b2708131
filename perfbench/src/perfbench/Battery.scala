package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The query battery: a closed loop, one client, over representative
  * rows of `SparkEntry.queries`, one to three per family, on the fixed
  * tables under `perfbench/data`. It is not a workload of its own; the
  * traced `rides_live` run adds it, for the `entry` layer metrics.
  *
  * An untimed pass builds every fixture cold and compiles the plans
  * (`entry.setup_s`); then one traced pass times each row as construct
  * (the query function returning its DataFrame, eager fixtures and
  * stores included) plus execute (every row materialised through the
  * noop sink), in an order drawn from the seed.
  */
object QueryBattery {
  val Families: Seq[(String, Seq[String])] = Seq(
    "rides" -> Seq("rides_e2e"),
    "upsert" -> Seq("upsert_scan_prune", "upsert_point_prune", "incr_agg_sums"),
    "history" -> Seq("part_history_travel"),
    "dedup" -> Seq("dedup_minhash_pairs"),
    "admission" -> Seq("docs_minhash_admission"),
    "ann" -> Seq("embed_topk_ivf"),
    "text" -> Seq("docs_bpe_token_counts", "docs_unigram_logprob_capped"),
    "multimodal" -> Seq("multimodal_features"),
    "relational" -> Seq("q5_region_revenue", "q3_top_orders"),
    "events" -> Seq("session_windows_30m", "events_funnel"),
    "sketch" -> Seq("approx_top_tokens_sketch", "approx_distinct_users_sketch"))

  final case class Row(family: String, name: String,
                       fn: (SparkSession, String) => DataFrame)

  def rows: Seq[Row] = Families.flatMap { case (f, names) =>
    names.map(n => Row(f, n, SparkEntry.queries(n)))
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val data = c.args.data
    val all = rows
    val construct = mutable.Map.empty[String, Double]
    val exec = mutable.Map.empty[String, Double]
    val failed = mutable.Set.empty[String]

    /** One row, construct then execute; a row that throws counts as failed. */
    def runRow(r: Row, timed: Boolean): Unit = {
      val tag = s"entry.${r.family}.${r.name}"
      try {
        val (df, cs) = Bench.timed(c.op(s"$tag.construct")(r.fn(spark, data)))
        val (_, es) = Bench.timed(c.op(s"$tag.exec")(
          df.write.format("noop").mode("overwrite").save()))
        if (timed) {
          construct(r.name) = cs
          exec(r.name) = es
        }
        c.report.check(s"row ${r.name}", ok = true)
      } catch { case e: Exception =>
        failed += r.name
        c.report.check(s"row ${r.name}", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    c.tracing(false)
    val (_, setupS) = Bench.timed(all.foreach(runRow(_, timed = false)))
    c.tracing(true)
    val order = new scala.util.Random(c.args.seed).shuffle(all)
    c.tracer.span("workload.query_battery.pass")(order.foreach(runRow(_, timed = true)))
    c.tracing(false)

    val l = c.report.layer
    l("entry.setup_s") = setupS
    Families.foreach { case (f, names) =>
      val rs = names.filterNot(failed)
      val e = c.engine.summary(s"entry.$f.")
      l(s"entry.$f.construct_s") = rs.map(construct).sum
      l(s"entry.$f.exec_s") = rs.map(exec).sum
      l(s"entry.$f.driver_gap_s") = rs.map(n => construct(n) + exec(n)).sum - e.jobWallS
      l(s"engine.entry.$f.jobs") = e.jobs
    }
    val ok = all.filterNot(r => failed(r.name))

    // correctness, outside the timed pass: each row's result goes to
    // parquet beside its DuckDB mirror from `SparkEntry.oracleSql`, and
    // the runner compares the two
    val outDir = s"${c.tmp}/oracle"
    new java.io.File(outDir).mkdirs()
    val oracle = ok.flatMap { r =>
      try {
        r.fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${r.name}")
        Some(r.name -> SparkEntry.oracleSql.getOrElse(r.name, ""))
      } catch { case e: Exception =>
        c.report.check(s"row ${r.name} wrote its result", ok = false, e.getMessage)
        None
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(oracle.map { case (n, q) => n -> Json.str(q) }).getBytes("UTF-8"))
  }
}
