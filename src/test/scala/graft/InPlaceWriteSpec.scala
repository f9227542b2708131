package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.operators.{FileSkipping, ParquetUpsertSink, PartitionedHistory}

/** The partitioned layout's one in-place write tail: every in-place
  * write passes dynamic partition overwrite as a write option (the
  * caller's session conf is never touched), and every commit finishes
  * its touched directories itself — re-indexed while they hold data,
  * dropped once empty.
  */
class InPlaceWriteSpec extends SparkTestBase {
  import spark.implicits._

  private val overwriteKey = "spark.sql.sources.partitionOverwriteMode"

  /** Rows `ks` with `day` = a/b/c by `k % 3`, `v` = 10·k. */
  private def rows(ks: Range): DataFrame =
    ks.map(k => (k.toLong, Seq("a", "b", "c")(k % 3), k * 10L))
      .toDF("k", "day", "v")

  /** The jobs `body` runs, each as the session-level overwrite mode it
    * carries (SQL confs travel to jobs as local properties).
    */
  private def jobModes(body: => Unit): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(overwriteKey))))
    }
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("partitioned upsert, delete and compact leave the session's " +
      "partitionOverwriteMode alone") {
    val dir = tmpDir("inplace") + "/conf"
    val sink = new ParquetUpsertSink(dir, Seq("k"), partitionCol = Some("day"))
    spark.conf.set(overwriteKey, "static")
    try {
      val modes = jobModes {
        sink.upsert(spark, rows(0 until 300).repartition(4), batchId = 0)
        sink.upsert(spark, rows(0 until 30).withColumn("v", lit(-1L)),
          batchId = 1)
        sink.delete(spark, col("k") >= 270L, batchId = 2)
        assert(sink.compact(spark, targetFileBytes = 1L << 40).nonEmpty)
      }
      // the session's value reaches the jobs; no job sees it dynamic
      assert(modes.contains(Some("static")))
      assert(!modes.contains(Some("dynamic")),
        s"jobs saw session overwrite modes ${modes.distinct}")
      assert(spark.conf.get(overwriteKey) === "static")
    } finally spark.conf.unset(overwriteKey)
    // dynamic all the same: each write replaced only its partitions
    val got = sink.read(spark).select("k", "v").as[(Long, Long)]
      .collect().toMap
    assert(got === (0 until 270).map(k =>
      k.toLong -> (if (k < 30) -1L else k * 10L)).toMap)
    assert(sink.history(spark).select("operation").as[String].collect()
      .toSeq === Seq("compact", "delete"))
  }

  test("a partitioned delete finishes its touched dirs in the commit: " +
      "the emptied one dropped, the thinned one re-indexed, no survivor collect") {
    val dir = tmpDir("inplace") + "/delete"
    val sink = new ParquetUpsertSink(dir, Seq("k"), partitionCol = Some("day"))
    sink.upsert(spark, rows(0 until 300).repartition(2), batchId = 0)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val untouched = fs.getFileStatus(
      new Path(s"$dir/day=c/${FileSkipping.statsFileName}"))
    // empties day=a, thins day=b to its odd keys, leaves day=c
    val jobs = jobModes(sink.delete(spark,
      col("day") === "a" || (col("day") === "b" && col("k") % 2 === 0),
      batchId = 1)).size
    assert(!fs.exists(new Path(s"$dir/day=a")))
    val bDir = new Path(s"$dir/day=b")
    val bFiles = PartitionedHistory.parquetFiles(fs, bDir)
      .map(_.getPath.getName).toSet
    val bStats = FileSkipping.readStats(fs, bDir).getOrElse(
      fail("day=b has no stats manifest"))
    assert(bStats.map(_.file).toSet === bFiles)
    assert(bStats.map(_.rows).sum === 50L)
    assert(fs.getFileStatus(new Path(s"$dir/day=c/${FileSkipping.statsFileName}"))
      .getModificationTime === untouched.getModificationTime)
    assert(sink.countRows(spark) === Some(150L))
    assert(sink.read(spark).count() === 150L)
    // the base's schema merge, the touched-partition collect (two jobs
    // under AQE: its shuffle, then the result), the survivors'
    // checkpoint and the overwrite — and no collect to learn which
    // touched partitions survived (the tail lists them instead)
    assert(jobs === 5, "jobs per partitioned delete")
  }
}
