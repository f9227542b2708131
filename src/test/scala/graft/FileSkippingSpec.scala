package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{FileSkipping, ParquetUpsertSink, ZOrder}

/** File-level data skipping on the versioned upsert store: footer
  * stats collection, the conservative predicate pruner, scan parity,
  * clustered/z-ordered pruning effectiveness, and every fallback that
  * must keep rather than prune.
  */
class FileSkippingSpec extends SparkTestBase {
  import spark.implicits._

  /** Mixed-type table: 1000 rows over 8 range-disjoint files on `id`
    * (written pre-ranged, so v0's stats already cluster), with a
    * nullable column null on ids ≡ 0 (mod 4) and an all-null column.
    */
  private def mixedSink(dir: String): ParquetUpsertSink = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val df = spark.range(1000).toDF("id")
      .withColumn("score", col("id").cast("double") / 10.0)
      .withColumn("name", concat(lit("user"), format_string("%04d", col("id"))))
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") / 10).cast("int")))
      .withColumn("at", timestamp_seconds(lit(1717200000L) + col("id")))
      .withColumn("flag", col("id") % 2 === 0)
      .withColumn("maybe", when(col("id") % 4 =!= 0, col("id") * 2))
      .withColumn("void", lit(null).cast("long"))
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")
    val sink = new ParquetUpsertSink(dir, Seq("id"))
    sink.upsert(spark, df, batchId = -1)
    sink
  }

  private def snapshotDir(sink: ParquetUpsertSink, dir: String): String = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v")).maxBy(identity)
  }

  private def assertParity(sink: ParquetUpsertSink, pred: Column): Unit = {
    val viaScan = sink.scan(spark, pred).collect().map(_.toString).sorted
    val viaRead = sink.read(spark).filter(pred).collect().map(_.toString).sorted
    assert(viaScan.toSeq === viaRead.toSeq)
  }

  /** The committed version whose snapshot is [[snapshotDir]]. */
  private def snapshotVersion(sink: ParquetUpsertSink, dir: String): Long =
    snapshotDir(sink, dir).drop(1).takeWhile(_ != '-').toLong

  private def selection(sink: ParquetUpsertSink, dir: String, pred: Column)
      : (Int, Int) = {
    val s = sink.selectFiles(spark, Some(pred),
      Some(snapshotVersion(sink, dir))).get
    (s.kept.size, s.total)
  }

  test("commit writes a stats manifest with per-kind min/max/nulls") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    val snap = snapshotDir(sink, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = FileSkipping.readStats(fs,
      new org.apache.hadoop.fs.Path(s"$dir/$snap"))
    assert(stats.isDefined, "stats manifest missing")
    val fss = stats.get
    assert(fss.size === 8)
    assert(fss.map(_.rows).sum === 1000L)
    // global bounds across files reproduce the data's true extrema
    import FileSkipping._
    def allMin(c: String) = fss.flatMap(_.cols(c).min)
    def allMax(c: String) = fss.flatMap(_.cols(c).max)
    assert(allMin("id").collect { case SLong(v) => v }.min === 0L)
    assert(allMax("id").collect { case SLong(v) => v }.max === 999L)
    assert(allMin("score").collect { case SDouble(v) => v }.min === 0.0)
    assert(allMax("score").collect { case SDouble(v) => v }.max === 99.9)
    assert(allMin("name").collect { case SString(v) => v }.min === "user0000")
    assert(fss.head.cols("day").kind === "date")
    assert(fss.head.cols("at").kind === "ts")
    assert(fss.head.cols("flag").kind === "bool")
    // null accounting: `maybe` has nulls in every file, `void` is all
    // null (bounds absent, nulls == rows), `id` has none
    assert(fss.forall(f => f.cols("maybe").nulls.exists(_ > 0)))
    assert(fss.forall(f => f.cols("void").nulls.contains(f.rows) &&
      f.cols("void").min.isEmpty))
    assert(fss.forall(f => f.cols("id").nulls.contains(0L)))
  }

  test("point and range predicates prune range-clustered files") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    val (kPoint, total) = selection(sink, dir, col("id") === 500L)
    assert(total === 8)
    assert(kPoint === 1, s"point lookup kept $kPoint of $total")
    val (kRange, _) = selection(sink, dir,
      col("id") >= 100L && col("id") < 300L)
    assert(kRange <= 3, s"range kept $kRange of $total")
    val (kTop, _) = selection(sink, dir, col("id") > 990L)
    assert(kTop === 1)
    assertParity(sink, col("id") === 500L)
    assertParity(sink, col("id") >= 100L && col("id") < 300L)
    assertParity(sink, col("id") > 990L)
  }

  test("string equality, IN-lists and prefix predicates prune") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    val (kEq, total) = selection(sink, dir, col("name") === "user0042")
    assert(kEq === 1, s"string point kept $kEq of $total")
    val (kIn, _) = selection(sink, dir,
      col("id").isin(1L, 2L, 901L))
    assert(kIn === 2, s"IN kept $kIn")
    val (kPre, _) = selection(sink, dir, col("name").startsWith("user09"))
    assert(kPre <= 2, s"prefix kept $kPre")
    // prefix shorter than a file's whole range: matches everything
    val (kPreAll, t2) = selection(sink, dir, col("name").startsWith("user"))
    assert(kPreAll === t2)
    assertParity(sink, col("name") === "user0042")
    assertParity(sink, col("id").isin(1L, 2L, 901L))
    assertParity(sink, col("name").startsWith("user09"))
  }

  test("date, timestamp and boolean predicates prune") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    val (kDay, total) = selection(sink, dir,
      col("day") === lit(java.sql.Date.valueOf("2024-01-05")))
    assert(kDay === 1, s"date point kept $kDay of $total")
    val (kTs, _) = selection(sink, dir,
      col("at") < lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1717200120L))))
    assert(kTs === 1, s"ts range kept $kTs")
    // flag alternates per row: bool stats span both values, no pruning
    val (kFlag, t2) = selection(sink, dir, col("flag"))
    assert(kFlag === t2)
    assertParity(sink, col("day") === lit(java.sql.Date.valueOf("2024-01-05")))
    assertParity(sink, col("at") <
      lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1717200120L))))
    assertParity(sink, col("flag"))
  }

  test("null-check predicates use null counts; SQL three-valued logic holds") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    // `void` is all null: any comparison on it prunes everything;
    // IS NULL keeps everything
    val (kCmp, _) = selection(sink, dir, col("void") === 5L)
    assert(kCmp === 0)
    val (kIsNull, t) = selection(sink, dir, col("void").isNull)
    assert(kIsNull === t)
    val (kNotNull, _) = selection(sink, dir, col("void").isNotNull)
    assert(kNotNull === 0)
    // `id` has no nulls: IS NULL prunes everything
    val (kIdNull, _) = selection(sink, dir, col("id").isNull)
    assert(kIdNull === 0)
    // comparisons against a NULL literal can never be true
    val (kNullLit, _) = selection(sink, dir,
      col("id") === lit(null).cast("long"))
    assert(kNullLit === 0)
    // null-safe equality against NULL = IS NULL semantics
    val (kNse, t3) = selection(sink, dir, col("maybe") <=> lit(null))
    assert(kNse === t3)
    assertParity(sink, col("void").isNull)
    assertParity(sink, col("maybe").isNull)
    assertParity(sink, col("id") === lit(null).cast("long"))
    assertParity(sink, col("maybe") <=> lit(null))
  }

  test("conjunction narrows, disjunction widens, unknown shapes keep") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    val (kAnd, _) = selection(sink, dir,
      col("id") < 100L && col("name") === "user0500")
    assert(kAnd === 0, "contradictory conjunction must prune everything")
    val (kOr, _) = selection(sink, dir,
      col("id") === 5L || col("id") === 995L)
    assert(kOr === 2)
    // a shape the pruner does not model keeps every file
    val (kUdf, t) = selection(sink, dir, length(col("name")) > 3)
    assert(kUdf === t)
    // ...including inside a conjunction with a prunable leaf
    val (kMix, _) = selection(sink, dir,
      length(col("name")) > 3 && col("id") === 5L)
    assert(kMix === 1)
    assertParity(sink, col("id") === 5L || col("id") === 995L)
    assertParity(sink, length(col("name")) > 3 && col("id") === 5L)
  }

  test("negated equality, NOT IN and negated prefix prune single-valued files") {
    val dir = tmpDir("fskip") + "/neg"
    // three files single-valued on c: all-null / 7 / 8; names share a
    // prefix per file
    val df = spark.range(150).toDF("id")
      .withColumn("c", when(col("id") < 50, 7L)
        .when(col("id") < 100, 8L))
      .withColumn("name", when(col("id") < 75, concat(lit("user"), col("id")))
        .otherwise(concat(lit("admin"), col("id"))))
      .repartitionByRange(3, col("c"))
    val sink = new ParquetUpsertSink(dir, Seq("id"))
    sink.upsert(spark, df, batchId = -1)
    // plain ≠: the 7-file and the all-null file cannot pass
    val (k1, total) = selection(sink, dir, !(col("c") === 7L))
    assert(total === 3 && k1 === 1, s"!= kept $k1 of $total")
    // null-safe ≠: nulls PASS, so the all-null file survives
    val (k2, _) = selection(sink, dir, !(col("c") <=> 7L))
    assert(k2 === 2, s"null-safe != kept $k2")
    // NOT IN covering both non-null values: nothing survives but the
    // null file never passes either
    val (k3, _) = selection(sink, dir, !col("c").isin(7L, 8L))
    assert(k3 === 0, s"NOT IN kept $k3")
    // negated prefix: files fully covered by the prefix prune; the
    // repartition was on c, so name prefixes straddle — use a prefix
    // matching everything to prove the covered-file direction
    val (k4, t4) = selection(sink, dir, !col("name").startsWith("zzz"))
    assert(k4 === t4) // nothing covered by zzz: keep all
    for (pred <- Seq(!(col("c") === 7L), !(col("c") <=> 7L),
        !col("c").isin(7L, 8L), !col("name").startsWith("user")))
      assert(sink.scan(spark, pred).collect().map(_.toString).sorted.toSeq ===
        sink.read(spark).filter(pred).collect().map(_.toString).sorted.toSeq)
  }

  test("scan with a nothing-matches predicate returns an empty frame, same schema") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    val out = sink.scan(spark, col("id") === -42L)
    assert(out.schema === sink.read(spark).schema)
    assert(out.count() === 0)
  }

  test("missing stats manifest falls back to keep-everything, scan stays correct") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    val snap = snapshotDir(sink, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/$snap/${FileSkipping.statsFileName}"), false)
    val (kept, total) = selection(sink, dir, col("id") === 500L)
    assert(kept === total, "no stats must mean no pruning")
    assertParity(sink, col("id") === 500L)
  }

  test("delete and compact refresh stats; compact(clusterBy) tightens pruning") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    // delete a range, then compact into ~4 id-clustered files
    sink.delete(spark, col("id") >= 800L, batchId = -1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preDir = snapshotDir(sink, dir)
    val bytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$dir/$preDir")).getLength
    sink.compact(spark, targetFileBytes = math.max(1L, bytes / 4),
      clusterBy = Seq("id"))
    val (kPoint, total) = selection(sink, dir, col("id") === 100L)
    assert(total >= 3, s"compaction produced only $total files")
    assert(kPoint === 1, s"clustered point lookup kept $kPoint of $total")
    // the deleted range is provably absent
    val (kGone, _) = selection(sink, dir, col("id") >= 800L)
    assert(kGone === 0)
    assertParity(sink, col("id") === 100L)
    assert(sink.scan(spark, col("id") >= 800L).count() === 0)
  }

  test("z-order compaction prunes on EVERY clustered column; lexicographic only on the first") {
    import org.apache.hadoop.fs.Path
    val grid = spark.range(64L * 64).toDF("i")
      .withColumn("x", col("i") % 64)
      .withColumn("y", (col("i") / 64).cast("long"))
      .withColumn("payload", concat(lit("p"), col("i")))
      .drop("i")

    def build(dir: String, zorder: Boolean): ParquetUpsertSink = {
      val sink = new ParquetUpsertSink(dir, Seq("x", "y"))
      sink.upsert(spark, grid, batchId = -1)
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pre = snapshotDir(sink, dir)
      val bytes = fs.getContentSummary(new Path(s"$dir/$pre")).getLength
      sink.compact(spark, targetFileBytes = math.max(1L, bytes / 16),
        clusterBy = Seq("x", "y"), zorder = zorder)
      sink
    }

    val zDir = tmpDir("fskip") + "/z"
    val lexDir = tmpDir("fskip") + "/lex"
    val zSink = build(zDir, zorder = true)
    val lexSink = build(lexDir, zorder = false)

    val onX = col("x") < 8L
    val onY = col("y") < 8L
    val (zx, zTotal) = selection(zSink, zDir, onX)
    val (zy, _) = selection(zSink, zDir, onY)
    val (lx, lexTotal) = selection(lexSink, lexDir, onX)
    val (ly, _) = selection(lexSink, lexDir, onY)
    assert(zTotal >= 8 && lexTotal >= 8,
      s"want >=8 files, got z=$zTotal lex=$lexTotal")
    // z-order: BOTH axes prune
    assert(zx <= zTotal / 2, s"z-order x-predicate kept $zx of $zTotal")
    assert(zy <= zTotal / 2, s"z-order y-predicate kept $zy of $zTotal")
    // lexicographic: leading key prunes, trailing key cannot
    assert(lx <= lexTotal / 2, s"lex x-predicate kept $lx of $lexTotal")
    assert(ly >= lexTotal - 1, s"lex y-predicate should keep ~all, kept $ly")
    // identical results on every layout and path
    for (sink <- Seq(zSink, lexSink); pred <- Seq(onX, onY, onX && onY))
      assert(sink.scan(spark, pred).collect().map(_.toString).sorted.toSeq ===
        grid.filter(pred).collect().map(_.toString).sorted.toSeq)
  }

  test("partitioned z-order compaction: BOTH clustered columns prune inside a partition dir") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("fskip") + "/pz"
    // two partitions, each holding a full 64x64 (x, y) grid
    val grid = spark.range(2L * 64 * 64).toDF("i")
      .withColumn("day", when(col("i") % 2 === 0, lit("a")).otherwise(lit("b")))
      .withColumn("x", (col("i") / 2) % 64)
      .withColumn("y", ((col("i") / 2) / 64).cast("long"))
      .withColumn("payload", concat(lit("p"), col("i")))
      .drop("i")
    val sink = new ParquetUpsertSink(dir, Seq("x", "y"),
      partitionCol = Some("day"))
    sink.upsert(spark, grid.repartition(24), batchId = 0)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new Path(s"$dir/day=a")).getLength
    val rewritten = sink.compact(spark,
      targetFileBytes = math.max(1L, bytes / 8),
      clusterBy = Seq("x", "y"), zorder = true)
    assert(rewritten.toSet === Set("day=a", "day=b"))
    val inDay = col("day") === "a"
    val (kAll, _) = sink.scanFileCounts(spark, inDay)
    assert(kAll >= 6, s"want >=6 z-ordered files in the dir, got $kAll")
    // within the surviving directory, predicates on EITHER clustered
    // column prune files — the hyper-rectangle property per dir
    // a handful of z-ordered files per dir gives coarser rectangles
    // than the 16-file versioned-layout case — 2/3 is the stable bound
    // that still falsifies a layout where one axis cannot prune at all
    val (kx, _) = sink.scanFileCounts(spark, inDay && col("x") < 8L)
    val (ky, _) = sink.scanFileCounts(spark, inDay && col("y") < 8L)
    assert(kx <= kAll * 2 / 3, s"x-predicate kept $kx of $kAll")
    assert(ky <= kAll * 2 / 3, s"y-predicate kept $ky of $kAll")
    // parity on every shape (read appends the partition column last,
    // so compare scan against the sink's own full read)
    for (pred <- Seq(inDay && col("x") < 8L, inDay && col("y") < 8L,
        col("x") < 8L && col("y") < 8L)) {
      assert(sink.scan(spark, pred).collect().map(_.toString).sorted.toSeq ===
        sink.read(spark).filter(pred).collect().map(_.toString).sorted.toSeq)
      assert(sink.scan(spark, pred).count() === grid.filter(pred).count())
    }
  }

  test("bloom index prunes point lookups where min/max keeps every file") {
    val dir = tmpDir("fskip") + "/bloom"
    val noDir = tmpDir("fskip") + "/nobloom"
    // high-cardinality keys UNCORRELATED with any clustering: hashed
    // string + scrambled long, randomly distributed over 8 files, so
    // every file's [min, max] on them spans ~the whole keyspace
    val df = spark.range(4000).toDF("id")
      .withColumn("key", md5(col("id").cast("string")))
      .withColumn("num", pmod(col("id") * 2654435761L, lit(1000000L)))
      .withColumn("v", col("id") * 2)
      .repartition(8)
    val sink = new ParquetUpsertSink(dir, Seq("id"),
      bloomCols = Seq("key", "num"))
    sink.upsert(spark, df, batchId = -1)
    val bare = new ParquetUpsertSink(noDir, Seq("id"))
    bare.upsert(spark, df, batchId = -1)

    val hitKey = df.filter(col("id") === 123L).select("key")
      .first().getString(0)
    val hitNum = df.filter(col("id") === 456L).select("num")
      .first().getLong(0)
    // without blooms, the string/long point predicates keep ALL files
    val (bareKept, bareTotal) = selection(bare, noDir, col("key") === hitKey)
    assert(bareTotal === 8 && bareKept === 8,
      s"min/max alone should keep all, kept $bareKept")
    // with blooms, a PRESENT key keeps the holder (+ rare fps)…
    val (kHit, total) = selection(sink, dir, col("key") === hitKey)
    assert(total === 8)
    assert(kHit <= 2, s"present key kept $kHit of $total")
    // …and an ABSENT key prunes everything (mod fp): the shape a
    // 100 TB gold point lookup hits constantly
    val (kMiss, _) = selection(sink, dir,
      col("key") === "0000deadbeef0000deadbeef0000dead")
    assert(kMiss <= 1, s"absent key kept $kMiss of $total")
    val (kNumHit, _) = selection(sink, dir, col("num") === hitNum)
    assert(kNumHit <= 2, s"present num kept $kNumHit")
    val (kNumMiss, _) = selection(sink, dir, col("num") === 999999999L)
    assert(kNumMiss === 0, s"out-of-range num kept $kNumMiss") // stats prune
    val (kIn, _) = selection(sink, dir,
      col("key").isin(hitKey, "0000deadbeef0000deadbeef0000dead"))
    assert(kIn <= 2, s"IN-list kept $kIn")
    // soundness: parity on hits, misses, non-equality shapes
    for (pred <- Seq(col("key") === hitKey,
        col("key") === "0000deadbeef0000deadbeef0000dead",
        col("num") === hitNum, col("key") > "f",
        col("key") =!= hitKey && col("num") < 1000L))
      assertParity(sink, pred)
  }

  test("partitioned layout: blooms prune INSIDE a partition dir where " +
      "min/max keeps every file") {
    val dir = tmpDir("fskip") + "/pbloom"
    val noDir = tmpDir("fskip") + "/pnobloom"
    // 2 partitions × 4 files; hashed key uncorrelated with layout, so
    // every file's [min, max] on it spans ~the whole keyspace
    val df = spark.range(4000).toDF("id")
      .withColumn("day", when(col("id") % 2 === 0, lit("a")).otherwise(lit("b")))
      .withColumn("key", md5(col("id").cast("string")))
      .withColumn("v", col("id") * 3)
      .repartition(4) // each task holds both days → 4 files per dir
    val sink = new ParquetUpsertSink(dir, Seq("id"),
      partitionCol = Some("day"), bloomCols = Seq("key"))
    sink.upsert(spark, df, batchId = -1)
    val bare = new ParquetUpsertSink(noDir, Seq("id"),
      partitionCol = Some("day"))
    bare.upsert(spark, df, batchId = -1)
    def pkept(s: ParquetUpsertSink, pred: Column): (Seq[String], Int) = {
      val sel = s.selectFiles(spark, Some(pred)).get
      (sel.kept, sel.total)
    }
    val hitKey = df.filter(col("id") === 123L).select("key")
      .first().getString(0) // id 123 is odd → lives in day=b
    // stats alone keep every file in every dir
    val (bareKept, bareTotal) = pkept(bare, col("key") === hitKey)
    assert(bareTotal === 8 && bareKept.size === 8,
      s"min/max alone should keep all 8, kept ${bareKept.size}")
    // blooms keep the holder(s) only
    val (kHit, total) = pkept(sink, col("key") === hitKey)
    assert(total === 8)
    assert(kHit.size <= 2, s"present key kept ${kHit.size} of $total")
    // absent key prunes everything (mod fp)
    val (kMiss, _) = pkept(sink,
      col("key") === "0000deadbeef0000deadbeef0000dead")
    assert(kMiss.size <= 1, s"absent key kept ${kMiss.size}")
    // composed with DIRECTORY pruning: partition predicate confines
    // the bloom probes to one dir's files
    val (kBoth, _) = pkept(sink, col("day") === "b" && col("key") === hitKey)
    assert(kBoth.nonEmpty && kBoth.forall(_.startsWith("day=b")),
      s"kept files must all be in day=b, got $kBoth")
    assert(kBoth.size <= 2, s"dir+bloom kept ${kBoth.size}")
    // soundness: scan ≡ read.filter on hits, misses and mixed shapes
    for (pred <- Seq(col("key") === hitKey,
        col("key") === "0000deadbeef0000deadbeef0000dead",
        col("day") === "b" && col("key") === hitKey,
        col("day") === "a" || col("key") === hitKey))
      assert(sink.scan(spark, pred).collect().map(_.toString).sorted.toSeq ===
        sink.read(spark).filter(pred).collect().map(_.toString).sorted.toSeq)
  }

  test("timestamp join keys with PRE-1970 fractional seconds prune " +
      "soundly (the truncating-division micros encoding lost them)") {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dir = tmpDir("fskip") + "/ts1970"
    // keys from 10 s before to 10 s after the epoch, 50 ms apart,
    // range-clustered so each file's [min, max] micros window is tight
    // — a key mis-encoded by a second lands OUTSIDE its true file's
    // window and the file holding it would be pruned
    val fact = spark.range(0, 400).toDF("i")
      .withColumn("ts", timestamp_micros(col("i") * 50000L - 10000000L))
      .withColumn("v", col("i"))
      .drop("i")
      // 32 files over 20 s → ~0.6 s per file window: a key mis-encoded
      // by up to a second cannot still fall inside its own file
      .repartitionByRange(32, col("ts"))
      .sortWithinPartitions("ts")
    val sink = new ParquetUpsertSink(dir, Seq("ts"))
    sink.upsert(spark, fact, batchId = -1)
    // build side: 1969-12-31T23:59:58.5Z (pre-1970, fractional) and a
    // post-1970 control — collected as java.sql.Timestamp by default
    val build = Seq(-1500000L, 5000000L).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val got = rows(sink.scanForJoin(spark, "ts", build))
    val want = rows(sink.read(spark).join(build, Seq("ts"), "left_semi"))
    assert(want.size === 2, s"setup: both keys must exist, got $want")
    assert(got === want,
      "file pruning lost a pre-1970 fractional-second timestamp key")
  }

  test("globalBounds refuses mixed stat kinds (manifests from " +
      "different schema generations are incomparable)") {
    import graft.operators.FileSkipping._
    val a = FileStat("a.parquet", 10, Map("x" ->
      ColStats("long", Some(SLong(5L)), Some(SLong(9L)), Some(0L))))
    val b = FileStat("b.parquet", 10, Map("x" ->
      ColStats("double", Some(SDouble(1.5)), Some(SDouble(2.5)), Some(0L))))
    assert(globalBounds(Seq(a, b), "x") === None,
      "mixed-kind bounds must be unknown, not an arbitrary operand")
    assert(globalBounds(Seq(a), "x") === Some((5L, 9L)))
  }

  test("z-order refuses an input that already has the curve column") {
    val df = spark.range(4).toDF("a")
      .withColumn("b", col("a") * 2)
      .withColumn(graft.operators.ZOrder.zColName, col("a"))
    val e = intercept[IllegalArgumentException] {
      graft.operators.ZOrder.arrange(df, Seq("a", "b"), 2)
    }
    assert(e.getMessage.contains(graft.operators.ZOrder.zColName))
  }

  test("dynamic file pruning: build-side keys prune fact files before scheduling") {
    val dir = tmpDir("fskip") + "/dfp"
    // fact clustered by key, SPARSE (even keys only) so bloom
    // refinement is observable: an odd key falls inside every window
    // but inside no file
    val fact = spark.range(2000).toDF("i")
      .withColumn("k", col("i") * 2)
      .withColumn("v", col("i") * 3)
      .drop("i")
      .repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
    val sink = new ParquetUpsertSink(dir, Seq("k"), bloomCols = Seq("k"))
    sink.upsert(spark, fact, batchId = -1)
    val snap = snapshotVersion(sink, dir)
    def sel(keys: Array[Any]): (Int, Int) = {
      val s = sink.selectFiles(spark, Some(lit(true)), Some(snap),
        Some(("k", keys.toSeq))).get
      (s.kept.size, s.total)
    }
    // neighboring keys: one file
    val (kNear, total) = sel(Array[Any](10L, 14L, 20L))
    assert(total === 8 && kNear === 1, s"near keys kept $kNear of $total")
    // spread keys: ~one file each
    val (kSpread, _) = sel(Array[Any](10L, 2000L, 3900L))
    assert(kSpread <= 3, s"spread keys kept $kSpread")
    // odd keys INSIDE the windows: only the bloom can refute them
    // (<= 3 allows the nominal 3% fp rate across 24 probes)
    val (kOdd, _) = sel(Array[Any](11L, 1001L, 2501L))
    assert(kOdd <= 3, s"absent keys kept $kOdd of $total")
    // out-of-range keys: windows alone refute
    val (kOut, _) = sel(Array[Any](-4L, 99999L))
    assert(kOut === 0, s"out-of-range keys kept $kOut")
    // end-to-end semantics: scanForJoin ≡ filter + semi-join, with
    // and without a base predicate, hits and misses mixed
    val build = Seq(10L, 14L, 11L, 99999L).toDF("ck")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val wantAll = rows(sink.read(spark)
      .filter(col("k").isin(10L, 14L, 11L, 99999L)))
    assert(rows(sink.scanForJoin(spark, "k", build)) === wantAll)
    assert(rows(sink.scanForJoin(spark, "k", build,
        predicate = col("v") > 16L)) ===
      rows(sink.read(spark).filter(col("v") > 16L &&
        col("k").isin(10L, 14L, 11L, 99999L))))
    // oversized build side degrades to the broadcast semi-join path —
    // same rows either way
    assert(rows(sink.scanForJoin(spark, "k", build, maxKeys = 2)) === wantAll)
    // empty build side: empty result, schema intact
    val none = sink.scanForJoin(spark, "k",
      spark.range(0).toDF("ck"))
    assert(none.count() === 0)
    assert(none.schema.fieldNames.toSeq === sink.read(spark).schema.fieldNames.toSeq)
  }

  test("partitioned dynamic file pruning: key windows prune files, partition keys prune dirs") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.{LongType, StringType}
    val dir = tmpDir("fskip") + "/pdfp"
    val df = spark.range(3000).toDF("k")
      .withColumn("day", concat(lit("d"), pmod(col("k"), lit(3L)).cast("string")))
      .withColumn("v", col("k") * 2)
      .repartition(6)
    val sink = new ParquetUpsertSink(dir, Seq("k"),
      partitionCol = Some("day"))
    sink.upsert(spark, df, batchId = 0)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirBytes = fs.getContentSummary(new Path(s"$dir/day=d0")).getLength
    sink.compact(spark,
      targetFileBytes = math.max(1L, dirBytes / 4), clusterBy = Seq("k"))
    def sel(jk: String, dt: org.apache.spark.sql.types.DataType,
            keys: Seq[Any]): (Seq[String], Int) = {
      // the selection types the keys from the table's own schema
      assert(sink.read(spark).schema(jk).dataType === dt)
      val s = sink.selectFiles(spark, Some(lit(true)),
        join = Some((jk, keys))).get
      (s.kept, s.total)
    }
    // concentrated data-column keys: a strict file subset per dir
    val (kNear, total) = sel("k", LongType, Seq(10L, 16L, 22L))
    assert(total >= 9, s"fixture produced only $total files")
    assert(kNear.size <= total / 3, s"near keys kept ${kNear.size} of $total")
    // a join ON the partition column prunes whole directories through
    // the same pseudo-stats path
    val (kDay, _) = sel("day", StringType, Seq("d1"))
    assert(kDay.nonEmpty && kDay.forall(_.startsWith("day=d1/")),
      s"partition-key join kept: $kDay")
    // out-of-range keys prune everything
    assert(sel("k", LongType, Seq(99999L))._1.isEmpty)
    // end-to-end semantics on both key shapes, hits and misses mixed
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    val build = Seq(10L, 16L, 99999L).toDF("ck")
    assert(rows(sink.scanForJoin(spark, "k", build)) ===
      rows(sink.read(spark).filter(col("k").isin(10L, 16L, 99999L))))
    val buildDay = Seq("d1").toDF("dd")
    assert(rows(sink.scanForJoin(spark, "day", buildDay)) ===
      rows(sink.read(spark).filter(col("day") === "d1")))
    // with a residual predicate on top
    assert(rows(sink.scanForJoin(spark, "k", build,
        predicate = col("v") > 21L)) ===
      rows(sink.read(spark).filter(col("v") > 21L &&
        col("k").isin(10L, 16L, 99999L))))
  }

  test("non-finite cast bounds and non-finite literals keep files, never crash") {
    val dir = tmpDir("fskip") + "/inf"
    val sink = new ParquetUpsertSink(dir, Seq("id"))
    val df = spark.range(4).toDF("id")
      .withColumn("d", lit(1.0e300) * (col("id") + 1).cast("double"))
    sink.upsert(spark, df, batchId = -1)
    // an explicit float cast maps the double bounds beyond Float range
    // to Infinity — dropped to unknown, file kept, result correct
    // (previously: NumberFormatException out of the pruner)
    assertParity(sink, col("d").cast("float") > 1.0f)
    // an infinite literal never prunes, never throws
    assertParity(sink, col("d") < Double.PositiveInfinity)
    assertParity(sink, col("d") === Double.NegativeInfinity)
  }

  test("z-order rejects non-numeric cluster columns loudly") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("n", "s")
    val e = intercept[IllegalArgumentException] {
      ZOrder.arrange(df, Seq("n", "s"), 2)
    }
    assert(e.getMessage.contains("must be numeric"))
  }

  test("partitioned layout: partition values and file stats both prune; parity holds") {
    val dir = tmpDir("fskip") + "/part"
    // 1000 rows, 4 date partitions of 250 ids each; range-partitioned
    // writer tasks align with partitions, so each dir gets files with
    // disjoint id ranges — both pruning axes observable
    val df = spark.range(1000).toDF("id")
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") / 250).cast("int")))
      .withColumn("v", col("id") * 2)
      .repartitionByRange(8, col("id"))
    val sink = new ParquetUpsertSink(dir, Seq("id"),
      partitionCol = Some("day"))
    sink.upsert(spark, df, batchId = 0)

    val d2 = lit(java.sql.Date.valueOf("2024-01-02")) // ids 250..499
    val (kDay, total) = sink.scanFileCounts(spark, col("day") === d2)
    assert(total >= 8, s"want >=8 files across partitions, got $total")
    assert(kDay <= total / 4 + 1, s"day predicate kept $kDay of $total")
    // data-column pruning inside the surviving partition
    val (kBoth, _) = sink.scanFileCounts(spark,
      col("day") === d2 && col("id") < 300L)
    assert(kBoth < kDay, s"id predicate should narrow $kDay, kept $kBoth")
    // non-partition column alone prunes across all dirs
    val (kId, _) = sink.scanFileCounts(spark, col("id") === 600L)
    assert(kId === 1, s"point id kept $kId")
    // parity on every shape, including unprunable
    for (pred <- Seq(col("day") === d2, col("day") === d2 && col("id") < 300L,
        col("id") === 600L, col("v") % 7 === 0))
      assert(sink.scan(spark, pred).collect().map(_.toString).sorted.toSeq ===
        sink.read(spark).filter(pred).collect().map(_.toString).sorted.toSeq)
    // nothing-matches predicate: empty frame, same schema
    val none = sink.scan(spark,
      col("day") === lit(java.sql.Date.valueOf("2099-01-01")))
    assert(none.count() === 0)
    assert(none.schema.fieldNames.sorted.toSeq ===
      sink.read(spark).schema.fieldNames.sorted.toSeq)
  }

  test("partitioned layout: touched-only manifest refresh; stale manifests self-invalidate") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("fskip") + "/part2"
    val df = spark.range(400).toDF("id")
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") / 200).cast("int")))
      .withColumn("v", col("id") * 2)
      .repartitionByRange(4, col("id"))
    val sink = new ParquetUpsertSink(dir, Seq("id"),
      partitionCol = Some("day"))
    sink.upsert(spark, df, batchId = 0)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(day: String): String = {
      val p = new Path(s"$dir/day=$day/_stats.json")
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val untouchedBefore = manifest("2024-01-01")
    // batch touching only the second partition refreshes only its dir
    sink.upsert(spark, df.filter(col("id") >= 200L && col("id") < 210L)
      .withColumn("v", col("v") + 1L), batchId = 1)
    assert(manifest("2024-01-01") === untouchedBefore,
      "untouched partition's manifest must not be rewritten")
    // the rewritten partition stays consistent: parity + pruning
    val pred = col("id") === 205L
    assert(sink.scan(spark, pred).collect().map(_.toString).sorted.toSeq ===
      sink.read(spark).filter(pred).collect().map(_.toString).sorted.toSeq)
    // a stale/corrupt manifest (naming files that no longer exist)
    // self-invalidates into keep-all-in-dir, never wrong results
    val bogus = untouchedBefore.replaceAll("part-[^\"]+", "part-gone.parquet")
    val out = fs.create(new Path(s"$dir/day=2024-01-01/_stats.json"), true)
    try out.write(bogus.getBytes("UTF-8")) finally out.close()
    val all = col("id") < 400L
    assert(sink.scan(spark, all).count() === sink.read(spark).filter(all).count())
    val (kStale, _) = sink.scanFileCounts(spark, col("id") === 5L)
    // id=5 lives in day=2024-01-01 whose manifest is untrusted: every
    // file of that dir is kept, files of other dirs still prune away
    val day1Files = fs.listStatus(new Path(s"$dir/day=2024-01-01")).count(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(kStale === day1Files, s"stale-dir keep-all: $kStale vs $day1Files")
    // delete that empties a partition drops its dir; scan sees nothing
    sink.delete(spark, col("day") === lit(java.sql.Date.valueOf("2024-01-02")),
      batchId = 2)
    assert(!fs.exists(new Path(s"$dir/day=2024-01-02")))
    assert(sink.scan(spark,
      col("day") === lit(java.sql.Date.valueOf("2024-01-02"))).count() === 0)
  }

  test("distributed stats collection matches the driver loop exactly") {
    val dir = tmpDir("fskip") + "/dist"
    val prev = spark.conf.getOption(FileSkipping.distributedThresholdKey)
    try {
      spark.conf.set(FileSkipping.distributedThresholdKey, "2")
      val sink = mixedSink(dir) // 8 files > threshold → executor path
      val snap = snapshotDir(sink, dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val viaManifest = FileSkipping.readStats(fs,
        new org.apache.hadoop.fs.Path(s"$dir/$snap")).get
      val sequential = FileSkipping.collectStats(
        spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(s"$dir/$snap"))
      assert(viaManifest === sequential)
      // and pruning works off the distributed-collected manifest
      val (kept, total) = selection(sink, dir, col("id") === 500L)
      assert(total === 8 && kept === 1)
    } finally prev match {
      case Some(v) => spark.conf.set(FileSkipping.distributedThresholdKey, v)
      case None => spark.conf.unset(FileSkipping.distributedThresholdKey)
    }
  }

  test("countRows and columnBounds answer from the manifest, no scan") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    assert(sink.countRows(spark) === Some(1000L))
    assert(sink.columnBounds(spark, "id") === Some((0L, 999L)))
    assert(sink.columnBounds(spark, "score") === Some((0.0, 99.9)))
    assert(sink.columnBounds(spark, "name") ===
      Some(("user0000", "user0999")))
    // all-null column: no non-null extrema to report
    assert(sink.columnBounds(spark, "void") === None)
    // unknown column: None, never a guess
    assert(sink.columnBounds(spark, "nope") === None)
    // without a manifest both degrade to None (callers fall back to
    // the scan-based aggregate)
    val snap = snapshotDir(sink, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/$snap/${FileSkipping.statsFileName}"), false)
    assert(sink.countRows(spark) === None)
    assert(sink.columnBounds(spark, "id") === None)
  }

  test("partitioned countRows/columnBounds answer from fresh manifests only") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("fskip") + "/pcount"
    val df = spark.range(600).toDF("id")
      .withColumn("day", when(col("id") < 300, lit("a")).otherwise(lit("b")))
      .withColumn("v", col("id").cast("double") / 4.0)
      .repartitionByRange(4, col("id"))
    val sink = new ParquetUpsertSink(dir, Seq("id"),
      partitionCol = Some("day"))
    sink.upsert(spark, df, batchId = 0)
    assert(sink.countRows(spark) === Some(600L))
    assert(sink.columnBounds(spark, "id") === Some((0L, 599L)))
    assert(sink.columnBounds(spark, "v") === Some((0.0, 599.0 / 4.0)))
    // the partition column itself has no footer stats — no answer
    assert(sink.columnBounds(spark, "day").isEmpty)
    // a delete keeps both metadata answers current
    sink.delete(spark, col("id") >= 500L, batchId = 1)
    assert(sink.countRows(spark) === Some(500L))
    assert(sink.columnBounds(spark, "id") === Some((0L, 499L)))
    // a stale manifest (naming dead files) poisons the whole answer
    // to None — never a wrong count
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new Path(s"$dir/day=a/${FileSkipping.statsFileName}")
    val in = fs.open(mPath)
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val out = fs.create(mPath, true)
    try out.write(content.replaceAll("part-[^\"]+", "part-gone.parquet")
      .getBytes("UTF-8")) finally out.close()
    assert(sink.countRows(spark).isEmpty)
    assert(sink.columnBounds(spark, "id").isEmpty)
  }

  test("scanVersion: time travel and pruning compose") {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val df = spark.range(1000).toDF("id")
      .withColumn("v", col("id") * 2)
      .withColumn("day", (col("id") % 4).cast("string"))
      .repartitionByRange(8, col("id"))
    // both layouts: one partitioned contract serves time travel too
    for (partitionCol <- Seq(None, Some("day"))) {
      val dir = tmpDir("fskip") + "/tt"
      val sink = new ParquetUpsertSink(dir, Seq("id"), partitionCol,
        retainVersions = 4)
      sink.upsert(spark, df, batchId = 0)
      val v0 = sink.currentVersion(spark)
      sink.delete(spark, col("id") >= 500L, batchId = 1)
      // the historical version still holds (and prunes for) the
      // since-deleted range
      val hist = sink.scanVersion(spark, v0, col("id") === 700L)
      assert(hist.count() === 1, s"$partitionCol")
      assert(sink.scan(spark, col("id") === 700L).count() === 0)
      // parity against the plain historical read
      val pred = col("id") >= 100L && col("id") < 300L
      def sorted(d: DataFrame) =
        d.select("id", "v", "day").collect().map(_.toString).sorted.toSeq
      assert(sorted(sink.scanVersion(spark, v0, pred)) ===
        sorted(sink.readVersion(spark, v0).filter(pred)), s"$partitionCol")
      assert(sorted(sink.scanVersion(spark, v0, pred)).size === 200)
      intercept[IllegalArgumentException] {
        sink.scanVersion(spark, 99L, pred).count()
      }
    }
  }

  test("stats JSON round-trips byte-identically") {
    val dir = tmpDir("fskip") + "/t"
    val sink = mixedSink(dir)
    val snap = snapshotDir(sink, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = FileSkipping.readStats(fs,
      new org.apache.hadoop.fs.Path(s"$dir/$snap")).get
    val reparsed = FileSkipping.statsFromJson(
      FileSkipping.statsToJson(stats))
    assert(reparsed === Some(stats))
  }

  test("one pruning path: both layouts give the same rows, counts and " +
    "bounds over a predicate matrix and join-key sets") {
    // ids 0..399 over four days of 100 contiguous ids each, so a day
    // and an id range are prunable on either layout
    val df = spark.range(400).toDF("id")
      .withColumn("day", concat(lit("d"), (col("id") / 100).cast("long")))
      .withColumn("v", col("id") * 3)
      .repartitionByRange(8, col("id"))
    val versioned = new ParquetUpsertSink(tmpDir("fskip") + "/xv", Seq("id"))
    versioned.upsert(spark, df, batchId = -1)
    val partitioned = new ParquetUpsertSink(tmpDir("fskip") + "/xp",
      Seq("id"), partitionCol = Some("day"))
    partitioned.upsert(spark, df, batchId = -1)
    def rows(d: DataFrame): Seq[String] =
      d.select("id", "day", "v").collect().map(_.toString).sorted.toSeq
    val preds = Seq(col("day") === "d1", col("id").between(120L, 180L),
      col("day") === "d2" && col("id") < 230L, lit(false), lit(true))
    val keySets = Seq(
      ("id", Seq(10L, 150L, 99999L).toDF("b"), 2000000), // a data key
      ("day", Seq("d1", "d3").toDF("b"), 2000000),       // the partition key
      ("id", Seq.empty[Long].toDF("b"), 2000000),        // an empty set
      ("id", Seq(5L, 105L, 205L, 305L).toDF("b"), 2))    // past the key gate
    for (pred <- preds) {
      val want = rows(df.filter(pred))
      for (sink <- Seq(versioned, partitioned)) {
        assert(rows(sink.scan(spark, pred)) === want, s"scan($pred)")
        assert(rows(sink.read(spark).filter(pred)) === want)
        for ((jk, build, maxKeys) <- keySets) {
          val keys = build.collect().map(_.get(0)).toSeq
          assert(rows(sink.scanForJoin(spark, jk, build, pred, maxKeys)) ===
            rows(sink.read(spark).filter(pred && col(jk).isin(keys: _*))),
            s"scanForJoin($jk in $keys, $pred, maxKeys = $maxKeys)")
        }
      }
      // one pruning answer: the same (kept, total) on either layout
      assert(partitioned.scanFileCounts(spark, pred) ===
        versioned.scanFileCounts(spark, pred), s"scanFileCounts($pred)")
    }
    // a condition-free predicate keeps every file
    val (kAll, tAll) = partitioned.scanFileCounts(spark, lit(true))
    assert(tAll > 0 && kAll === tAll)
    // the metadata-only answers agree across layouts
    assert(versioned.countRows(spark) === Some(400L))
    assert(partitioned.countRows(spark) === versioned.countRows(spark))
    for (c <- Seq("id", "v"))
      assert(partitioned.columnBounds(spark, c) ===
        versioned.columnBounds(spark, c), c)
    assert(versioned.columnBounds(spark, "id") === Some((0L, 399L)))
    // Spark jobs run while CONSTRUCTING a pruned join: the distinct
    // key collect and the parquet schema inferences — the sample file's
    // and, on the partitioned layout only, the kept files' merged schema
    // (a versioned snapshot is one write's output: the sample's schema
    // is every file's); no whole-table schema read. A scan that keeps
    // no file builds its empty frame from that same schema.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsToConstruct(build: => DataFrame): Int = {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      jobs.set(0)
      build
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val join = Seq(versioned, partitioned).map(sink => jobsToConstruct(
        sink.scanForJoin(spark, "id", Seq(10L, 150L).toDF("b"))))
      assert(join === Seq(3, 4), "jobs to construct (versioned, partitioned)")
      val none = Seq(versioned, partitioned).map(sink =>
        jobsToConstruct(sink.scan(spark, col("id") === 99999L)))
      assert(none === Seq(1, 2), "jobs to construct an all-pruned scan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
