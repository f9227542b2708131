package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import graft.operators.Upsert
import graft.functions.Hashing

/** ScalaCheck properties over the merge and rounding primitives.
  * Spark-backed generators are kept small (each evaluation runs real
  * jobs); the properties are the algebraic laws the engine's
  * correctness rests on.
  */
object EngineProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def table(rows: Seq[(Int, Long)]) = {
    val s = spark; import s.implicits._
    rows.toDF("k", "v")
  }

  private val genRows: Gen[Seq[(Int, Long)]] = for {
    n <- Gen.choose(1, 12)
    keys <- Gen.listOfN(n, Gen.choose(0, 8))
    vals <- Gen.listOfN(n, Gen.choose(0L, 1000L))
  } yield keys.zip(vals).distinctBy(_._1)

  property("merge: updates win, key set is the union") =
    Prop.forAll(genRows, genRows) { (b, u) =>
      val merged = Upsert.merge(table(b), table(u), Seq("k"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val expected = b.toMap ++ u.toMap
      merged == expected
    }

  property("merge idempotence: applying updates twice = once") =
    Prop.forAll(genRows, genRows) { (b, u) =>
      val once = Upsert.merge(table(b), table(u), Seq("k"))
      val twice = Upsert.merge(once, table(u), Seq("k"))
      twice.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
        once.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }

  property("TopKPerKey ≡ row_number window for random tables and k") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), Gen.choose(0L, 30L))),
      Gen.choose(1, 4)) { (rows, k) =>
      val s = spark; import s.implicits._
      val df = rows.toDF("key", "v")
        // a tie-break column unique per row for a total order
        .withColumn("rid",
          org.apache.spark.sql.functions.monotonically_increasing_id())
        .localCheckpoint(true) // pin rid before comparing two plans
      val custom = graft.plans.TopKPerKey(df, Seq("key"),
        Seq(graft.plans.TopKPerKey.desc("v"),
          graft.plans.TopKPerKey.asc("rid")), k)
        .select("key", "v", "rid", "rank")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("key"))
        .orderBy(col("v").desc, col("rid"))
      val reference = df
        .withColumn("rank", org.apache.spark.sql.functions
          .row_number().over(w))
        .filter(col("rank") <= k)
        .select("key", "v", "rid", "rank")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSet
      custom == reference
    }

  property("merge schema evolution: extra update columns null-fill base") =
    Prop.forAll(genRows, genRows) { (b, u) =>
      val s = spark; import s.implicits._
      val evolved = table(u).withColumn("extra", col("v") * 2)
      val merged = Upsert.merge(table(b), evolved, Seq("k")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      val uk = u.toMap; val bk = b.toMap
      merged.forall { case (k, (v, extra)) =>
        uk.get(k) match {
          case Some(uv) => v == uv && extra.contains(uv * 2) // update row
          case None     => bk(k) == v && extra.isEmpty       // base row
        }
      } && merged.keySet == (b.map(_._1) ++ u.map(_._1)).toSet
    }

  property("TopKPerKey spill path ≡ heap path for random tables") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), Gen.choose(0L, 30L))),
      Gen.choose(1, 4)) { (rows, k) =>
      val s = spark; import s.implicits._
      val df = rows.toDF("key", "v")
        .withColumn("rid",
          org.apache.spark.sql.functions.monotonically_increasing_id())
        .localCheckpoint(true)
      def run(): Set[(Int, Long, Long, Int)] =
        graft.plans.TopKPerKey(df, Seq("key"),
          Seq(graft.plans.TopKPerKey.desc("v"),
            graft.plans.TopKPerKey.asc("rid")), k)
          .select("key", "v", "rid", "rank")
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
            r.getInt(3))).toSet
      val heap = run()
      spark.conf.set("spark.graft.topk.spillThresholdRows", "1")
      val spill = try run()
      finally spark.conf.unset("spark.graft.topk.spillThresholdRows")
      heap == spill
    }

  property("fused srp_buckets ≡ per-table HOF bucketing on random vectors") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.listOfN(6, Gen.chooseNum(-10.0f, 10.0f)))) { vecs =>
      val s = spark; import s.implicits._
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("id", "v")
      val fused = df.select(col("id"),
          posexplode(graft.functions.Similarity
            .srpBuckets(col("v"), planes = 3, dims = 6, tables = 2))
            .as(Seq("t", "b")))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2))
        .toMap
      val hof = (0 until 2).flatMap { t =>
        df.select(col("id"), graft.functions.Similarity
            .srpBucket(col("v"), planes = 3, dims = 6, tableSalt = t)
            .as("b"))
          .collect().map(r => (r.getLong(0), t) -> r.getString(1))
      }.toMap
      fused == hof
    }

  property("portableRound stays within half an ulp of scale") =
    Prop.forAll(Gen.choose(-1e6, 1e6), Gen.choose(0, 6)) { (x, n) =>
      val s = spark; import s.implicits._
      val r = Seq(x).toDF("x")
        .select(Hashing.portableRound(col("x"), n)).first().getDouble(0)
      math.abs(r - x) <= 0.5 * math.pow(10, -n) + 1e-9
    }

  private val genVec: Gen[Array[Float]] = for {
    n <- Gen.choose(1, 8)
    xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0).map(_.toFloat))
  } yield xs.toArray

  property("sq8: codes in [-127,127], reconstruction within scale/2") =
    Prop.forAll(Gen.nonEmptyListOf(genVec)) { vecs =>
      val s = spark; import s.implicits._
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      graft.functions.Similarity.sq8Quantize(df).collect().forall { r =>
        val codes = r.getSeq[Byte](1)
        val sc = r.getDouble(2)
        val orig = vecs(r.getLong(0).toInt)
        codes.forall(c => c >= -127 && c <= 127) && sc > 0.0 &&
          orig.zip(codes).forall { case (x, c) =>
            math.abs(x - c * sc) <= sc / 2 + 1e-9 }
      }
    }

  property("saltedJoin ≡ plain join for random tables and factors") =
    Prop.forAll(genRows, genRows, Gen.choose(1, 5)) { (b, sm, f) =>
      val big = table(b)
      val small = table(sm).withColumnRenamed("v", "w")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("k"), col("v"), col("w")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      rows(graft.operators.Skew.saltedJoin(big, small, "k", f)) ==
        rows(big.join(small, Seq("k")))
    }

  property("Tables: every supported ts encoding reads to the same instants") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0L, 4102444800000000L)).map(_.distinct)) {
      micros =>
        // Random instants (1970..2100, µs precision) written under each
        // physical encoding the reader claims to support must normalize
        // to identical TimestampType values — the generalized form of
        // the fixed-fixture SourceFormatsSpec cases.
        val s = spark; import s.implicits._
        val base = micros.zipWithIndex
          .map { case (us, i) => (i.toLong, us) }.toDF("event_id", "us")
          .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
            lit(0L).as("user_id"), lit("e").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
        def readDir(dir: String): Set[(Long, Long)] = {
          val got = graft.sources.Tables.read(spark, dir, "events")
          assert(got.schema("ts").dataType ==
            org.apache.spark.sql.types.TimestampType)
          got.select(col("event_id"), unix_micros(col("ts")))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        def readBack(frame: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
          val dir = java.nio.file.Files
            .createTempDirectory("graft-tsprop").toString
          frame.write.mode("overwrite").parquet(s"$dir/events.parquet")
          try readDir(dir)
          finally spark.conf.unset(graft.sources.Tables.nanosAsLongKey)
        }
        // genuine footer-annotated TIMESTAMP(NANOS) (the encoding
        // Spark cannot write): the reader must self-probe the conf
        // AND confirm nanos-ness from the footer per file
        def readBackNanos(): Set[(Long, Long)] = {
          val dir = java.nio.file.Files
            .createTempDirectory("graft-tsprop").toString
          NanosParquet.writeEvents(s"$dir/events.parquet",
            micros.zipWithIndex.map { case (us, i) =>
              (i.toLong, us * 1000L, 0L, "e", 0.0, "{}") })
          try readDir(dir)
          finally spark.conf.unset(graft.sources.Tables.nanosAsLongKey)
        }
        val want = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }.toSet
        readBack(base) == want &&
          readBack(base.withColumn("ts", col("ts").cast("timestamp_ntz"))) ==
            want &&
          readBackNanos() == want
    }

  property("incremental agg advance ≡ recompute for random feeds") =
    Prop.forAll(genRows, genRows, Gen.choose(0, 8)) { (b, u, delKey) =>
      (b.nonEmpty && u.nonEmpty) ==> {
        // integer values keep double addition exact → strict equality
        val dir = java.nio.file.Files
          .createTempDirectory("graft-iaprop").toString + "/t"
        val sink = new graft.operators.ParquetUpsertSink(
          dir, Seq("k"), retainVersions = 6)
        sink.upsert(spark, table(b), batchId = 0)
        val v0 = sink.currentVersion(spark)
        // group COARSER than the sink key: parity class of k (typed
        // long/double so both maintained and recomputed views agree)
        def grouped(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("g", (col("k") % 2).cast("long"))
            .withColumn("v", col("v").cast("double"))
        val view0 = graft.operators.IncrementalAgg.view(
          grouped(sink.readVersion(spark, v0)), Seq("g"), Seq("v"))
          .localCheckpoint(true)
        sink.upsert(spark, table(u), batchId = 1)
        sink.delete(spark, col("k") === delKey, batchId = 2)
        val feed = sink.changeFeed(spark, v0, sink.currentVersion(spark),
          withPreimages = true)
        val advanced = graft.operators.IncrementalAgg.advance(
          view0, grouped(feed), Seq("g"), Seq("v"))
        val full = graft.operators.IncrementalAgg.view(
          grouped(sink.read(spark)), Seq("g"), Seq("v"))
        def m(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        m(advanced) == m(full)
      }
    }

  property("distinct-count advance ≡ recompute for random feeds") =
    Prop.forAll(genRows, genRows, Gen.choose(0, 8)) { (b, u, delKey) =>
      (b.nonEmpty && u.nonEmpty) ==> {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-dsprop").toString + "/t"
        val sink = new graft.operators.ParquetUpsertSink(
          dir, Seq("k"), retainVersions = 6)
        sink.upsert(spark, table(b), batchId = 0)
        val v0 = sink.currentVersion(spark)
        // group coarser than the sink key; random value updates MOVE
        // multiplicities between (group, value) pairs, random deletes
        // retract witnesses — the full distinct-maintenance algebra
        def grouped(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("g", (col("k") % 2).cast("long"))
        val state0 = graft.operators.IncrementalAgg.distinctState(
          grouped(sink.readVersion(spark, v0)), Seq("g"), "v")
          .localCheckpoint(true)
        sink.upsert(spark, table(u), batchId = 1)
        sink.delete(spark, col("k") === delKey, batchId = 2)
        val feed = sink.changeFeed(spark, v0, sink.currentVersion(spark),
          withPreimages = true)
        val advanced = graft.operators.IncrementalAgg.advanceDistinct(
          state0, grouped(feed), Seq("g"), "v")
        val full = graft.operators.IncrementalAgg.distinctState(
          grouped(sink.read(spark)), Seq("g"), "v")
        def m(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.get(1).toString) -> r.getLong(2)).toMap
        def c(df: org.apache.spark.sql.DataFrame) =
          graft.operators.IncrementalAgg.readDistinct(df, Seq("g"), "v")
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        m(advanced.select(col("g"), col("v"),
          col(graft.operators.IncrementalAgg.multCol))) ==
          m(full.select(col("g"), col("v"),
            col(graft.operators.IncrementalAgg.multCol))) &&
          c(advanced) == c(full)
      }
    }

  property("min/max advance with base repair ≡ recompute for random feeds") =
    Prop.forAll(genRows, genRows, Gen.choose(0, 8)) { (b, u, delKey) =>
      (b.nonEmpty && u.nonEmpty) ==> {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-mmprop").toString + "/t"
        val sink = new graft.operators.ParquetUpsertSink(
          dir, Seq("k"), retainVersions = 6)
        sink.upsert(spark, table(b), batchId = 0)
        val v0 = sink.currentVersion(spark)
        def grouped(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("g", (col("k") % 2).cast("long"))
        val view0 = graft.operators.IncrementalAgg.minMaxView(
          grouped(sink.readVersion(spark, v0)), Seq("g"), Seq("v"))
          .localCheckpoint(true)
        sink.upsert(spark, table(u), batchId = 1)
        sink.delete(spark, col("k") === delKey, batchId = 2)
        val feed = sink.changeFeed(spark, v0, sink.currentVersion(spark),
          withPreimages = true)
        val advanced = graft.operators.IncrementalAgg.advanceMinMax(
          view0, grouped(feed), grouped(sink.read(spark)),
          Seq("g"), Seq("v"))
        val full = graft.operators.IncrementalAgg.minMaxView(
          grouped(sink.read(spark)), Seq("g"), Seq("v"))
        def m(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
        m(advanced) == m(full)
      }
    }

  property("changesBetween ≡ set difference of the two snapshots") =
    Prop.forAll(genRows, genRows) { (b, u) =>
      (b.nonEmpty && u.nonEmpty) ==> {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-cdcprop").toString + "/t"
        val sink = new graft.operators.ParquetUpsertSink(
          dir, Seq("k"), retainVersions = 4)
        sink.upsert(spark, table(b), batchId = 0)
        sink.upsert(spark, table(u), batchId = 1)
        val delta = sink.changesBetween(spark, 0, 1).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSet
        delta == ((b.toMap ++ u.toMap).toSet -- b.toMap.toSet)
      }
    }

  property("partitioned delta-built change feed ≡ snapshot-diff semantics") =
    Prop.forAll(genRows, genRows, Gen.choose(0, 8)) { (b, u, delKey) =>
      (b.nonEmpty && u.nonEmpty) ==> {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-pfeed").toString + "/t"
        // PARTITIONED sink (it always keeps history): the feed between
        // retained versions is built from the actions files' add/remove
        // lists (reading only touched directories' files), and must agree
        // exactly with what the two full snapshots imply. Partition
        // derived from the key, so updates stay in their partition.
        val sink = new graft.operators.ParquetUpsertSink(
          dir, Seq("k"), partitionCol = Some("p"), retainVersions = 8)
        def ptable(rows: Seq[(Int, Long)]) =
          table(rows).withColumn("p", (col("k") % 3).cast("long"))
        sink.upsert(spark, ptable(b), batchId = 0)
        val v0 = sink.currentVersion(spark)
        sink.upsert(spark, ptable(u), batchId = 1)
        sink.delete(spark, col("k") === delKey, batchId = 2)
        val head = sink.currentVersion(spark)
        def m(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => r.getAs[Int]("k") -> r.getAs[Long]("v")).toMap
        val older = m(sink.readVersion(spark, v0))
        val newer = m(sink.read(spark))
        val expected =
          newer.collect { case (k, v) if !older.contains(k) =>
            ("insert", k, v) }.toSet ++
          newer.collect { case (k, v)
              if older.contains(k) && older(k) != v =>
            ("update_postimage", k, v) }.toSet ++
          older.collect { case (k, v)
              if newer.contains(k) && newer(k) != v =>
            ("update_preimage", k, v) }.toSet ++
          older.collect { case (k, v) if !newer.contains(k) =>
            ("delete", k, v) }.toSet
        val feed = sink.changeFeed(spark, v0, head, withPreimages = true)
          .collect().map(r => (r.getAs[String]("_change_type"),
            r.getAs[Int]("k"), r.getAs[Long]("v"))).toSet
        feed == expected
      }
    }

  // ---- GC × restore composition: restore re-references frozen files
  // of OLDER commits (by copy, under a new version), and GC later
  // drops those older commits' history. The law the protocol must
  // deliver: after ANY interleaving of upsert / delete / restore (GC
  // runs after every commit), every RETAINED version reads back
  // exactly the state recorded right after its commit, and every
  // GC'd version fails loudly — never a silent wrong answer and never
  // a stranded reference into a reclaimed _history/v<w>/ home.
  property("GC × restore composition: readVersion(v) ≡ recorded state " +
      "for every retained v; GC'd versions fail loudly") =
    Prop.forAll(genRows,
        Gen.listOfN(5, Gen.zip(Gen.choose(0, 2), genRows,
          Gen.choose(0, 8)))) { (b, ops) =>
      b.nonEmpty ==> {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-gcrest").toString + "/t"
        val sink = new graft.operators.ParquetUpsertSink(
          dir, Seq("k"), partitionCol = Some("p"), retainVersions = 4)
        def ptable(rows: Seq[(Int, Long)]) =
          table(rows).withColumn("p", (col("k") % 3).cast("long"))
        def m(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
          df.collect()
            .map(r => r.getAs[Int]("k") -> r.getAs[Long]("v")).toMap
        def retainedVs: Seq[Long] = sink.history(spark)
          .select("version").collect().map(_.getLong(0)).sorted
        val recorded =
          scala.collection.mutable.Map.empty[Long, Map[Int, Long]]
        var batch = 0L
        sink.upsert(spark, ptable(b), batch); batch += 1
        recorded(sink.currentVersion(spark)) = m(sink.read(spark))
        ops.foreach { case (kind, rows, sel) =>
          val cur = recorded(sink.currentVersion(spark))
          kind match {
            case 0 =>
              sink.upsert(spark, ptable(rows), batch); batch += 1
            case 1 =>
              // never empty the table: an empty partitioned root has
              // no schema to read back, which is a different contract
              if (cur.contains(sel) && cur.size > 1) {
                sink.delete(spark, col("k") === sel, batch); batch += 1
              }
            case 2 =>
              val vs = retainedVs
              sink.restore(spark, vs(sel % vs.size))
          }
          recorded(sink.currentVersion(spark)) = m(sink.read(spark))
        }
        val retained = retainedVs.toSet
        recorded.forall { case (v, want) =>
          if (retained(v)) m(sink.readVersion(spark, v)) == want
          else
            try { sink.readVersion(spark, v); false }
            catch { case _: IllegalArgumentException => true }
        }
      }
    }

  // ---- file-skipping soundness: scan ≡ read.filter for RANDOM
  // predicates over a stats-bearing clustered table. The pruner is
  // conservative-by-construction; this is the law that construction
  // must deliver — a single over-pruned file under any predicate
  // shape (negation, contradiction, out-of-range literals, null
  // traps, nested boolean structure) falsifies it.

  private lazy val skipSink: graft.operators.ParquetUpsertSink = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-skipprop").toString + "/t"
    val df = spark.range(300).toDF("id")
      .withColumn("score", col("id").cast("double") / 10.0)
      .withColumn("name", format_string("user%03d", col("id")))
      .withColumn("maybe", when(col("id") % 3 =!= 0, col("id") * 2))
      .repartitionByRange(6, col("id"))
    // bloom-indexed on a long and a string column, so the random
    // equality/IN leaves below also exercise bloom pruning decisions —
    // the law covers stats AND bloom verdicts jointly
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("id"),
      bloomCols = Seq("id", "name"))
    sink.upsert(spark, df, batchId = -1)
    sink
  }

  private val genSkipLeaf: Gen[org.apache.spark.sql.Column] = Gen.oneOf(
    Gen.choose(-50L, 350L).map(v => col("id") <= v),
    Gen.choose(-50L, 350L).map(v => col("id") > v),
    Gen.choose(-50L, 350L).map(v => col("id") === v),
    Gen.choose(-5.0, 35.0).map(v => col("score") < v),
    Gen.listOfN(3, Gen.choose(-50L, 350L))
      .map(vs => col("id").isin(vs: _*)),
    Gen.const(col("maybe").isNull),
    Gen.const(col("maybe").isNotNull),
    Gen.oneOf("user0", "user29", "zzz", "user299x")
      .map(p => col("name").startsWith(p)),
    Gen.oneOf("user005", "user299", "user300", "nope")
      .map(v => col("name") === v),
    Gen.choose(-50L, 650L).map(v => col("maybe") >= v),
    Gen.const(col("id") === lit(null).cast("long")))

  private def genSkipPred(depth: Int): Gen[org.apache.spark.sql.Column] =
    if (depth == 0) genSkipLeaf
    else Gen.frequency(
      3 -> genSkipLeaf,
      2 -> Gen.zip(genSkipPred(depth - 1), genSkipPred(depth - 1))
        .map { case (a, b) => a && b },
      2 -> Gen.zip(genSkipPred(depth - 1), genSkipPred(depth - 1))
        .map { case (a, b) => a || b },
      1 -> genSkipPred(depth - 1).map(p => !p))

  property("file skipping: scan ≡ read.filter under random predicates") =
    Prop.forAll(Gen.listOfN(6, genSkipPred(2))) { preds =>
      preds.forall { pred =>
        val viaScan = skipSink.scan(spark, pred)
          .collect().map(_.toString).sorted.toSeq
        val viaRead = skipSink.read(spark).filter(pred)
          .collect().map(_.toString).sorted.toSeq
        viaScan == viaRead
      }
    }

  // same law on the PARTITIONED layout, whose pruning path has more
  // moving parts: partition-value pseudo-stats, the manifest
  // staleness guard, and the basePath subset read — plus predicates
  // over the partition column itself
  private lazy val partSkipSink: graft.operators.ParquetUpsertSink = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pskipprop").toString + "/t"
    val df = spark.range(300).toDF("id")
      .withColumn("grp", concat(lit("g"), (col("id") % 5).cast("string")))
      .withColumn("score", col("id").cast("double") / 10.0)
      .withColumn("maybe", when(col("id") % 3 =!= 0, col("id") * 2))
      .repartitionByRange(6, col("id"))
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("id"),
      partitionCol = Some("grp"), bloomCols = Seq("id", "grp"))
    sink.upsert(spark, df, batchId = -1)
    sink
  }

  private val genPartLeaf: Gen[org.apache.spark.sql.Column] = Gen.oneOf(
    Gen.oneOf("g0", "g3", "g7").map(v => col("grp") === v),
    Gen.oneOf("g1", "g4").map(v => col("grp") =!= v),
    Gen.listOfN(2, Gen.oneOf("g0", "g2", "g9"))
      .map(vs => col("grp").isin(vs: _*)),
    Gen.choose(-50L, 350L).map(v => col("id") <= v),
    Gen.choose(-50L, 350L).map(v => col("id") === v),
    Gen.choose(-5.0, 35.0).map(v => col("score") > v),
    Gen.const(col("maybe").isNull),
    Gen.const(col("maybe").isNotNull))

  private def genPartPred(depth: Int): Gen[org.apache.spark.sql.Column] =
    if (depth == 0) genPartLeaf
    else Gen.frequency(
      3 -> genPartLeaf,
      2 -> Gen.zip(genPartPred(depth - 1), genPartPred(depth - 1))
        .map { case (a, b) => a && b },
      2 -> Gen.zip(genPartPred(depth - 1), genPartPred(depth - 1))
        .map { case (a, b) => a || b },
      1 -> genPartPred(depth - 1).map(p => !p))

  property("partitioned file skipping: scan ≡ read.filter under random predicates") =
    Prop.forAll(Gen.listOfN(6, genPartPred(2))) { preds =>
      preds.forall { pred =>
        val viaScan = partSkipSink.scan(spark, pred)
          .collect().map(_.toString).sorted.toSeq
        val viaRead = partSkipSink.read(spark).filter(pred)
          .collect().map(_.toString).sorted.toSeq
        viaScan == viaRead
      }
    }

  // random short words over a 3-letter alphabet: maximal pair ties,
  // overlap runs ("aaa"), repeats — the regimes where the incremental
  // trainer's delta algebra and the driver argmax order could diverge
  // from the full per-round re-count
  private val genBpeCorpus: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 3)
    docs <- Gen.listOfN(n, Gen.nonEmptyListOf(
      Gen.choose(1, 5).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
      .map(_.take(8).mkString(" ")))
  } yield docs

  property("incremental BPE ≡ full re-count trainer on random corpora") =
    Prop.forAll(genBpeCorpus, Gen.choose(1, 6)) { (texts, k) =>
      val s = spark; import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val (mi, sti, pc) =
        graft.functions.Text.bpeTrainIncremental(docs, "text", k)
      val (mf, stf) = graft.functions.Text.bpeTrainFull(docs, "text", k)
      def m(st: org.apache.spark.sql.DataFrame) =
        st.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
      val stMap = m(sti)
      // pair-table recount from the final state — the delta invariant
      val wc = texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      val rec = scala.collection.mutable.Map[(String, String), Long]()
      stMap.foreach { case (w, syms) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          rec((p(0), p(1))) = rec.getOrElse((p(0), p(1)), 0L) + wc(w) }
      }
      (mi == mf) :| s"merges diverged: $mi vs $mf" &&
        (stMap == m(stf)) :| "final states diverged" &&
        (pc.toMap == rec.toMap) :| "maintained pair table != recount"
    }

  // tiny-vocabulary corpora (2-6 tokens over {a,b,c}) so LSH bucket
  // collisions actually occur, split into 2-3 arrival batches
  private val genAdmCorpus: Gen[(Seq[(Long, String)], Int)] = for {
    n <- Gen.choose(3, 10)
    texts <- Gen.listOfN(n, for {
      len <- Gen.choose(2, 6)
      ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
    } yield ws.mkString(" "))
    nBatches <- Gen.choose(2, 3)
  } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, nBatches)

  property("streaming admission ≡ sequential driver reference on random " +
    "corpora and batch splits") =
    Prop.forAll(genAdmCorpus) { case (docs, nBatches) =>
      val s = spark; import s.implicits._
      val allDF = docs.toDF("doc_id", "text")
      // per-doc band keys from the ENGINE's own key pipeline
      // (signatures are per-doc, so computing them over the whole
      // corpus at once equals per-batch computation)
      val keyRows = graft.functions.Dedup.lshBands(
          graft.functions.Dedup.minhashSignatures(
            graft.functions.Dedup.docShingleHashes(
              allDF, "doc_id", "text", 2), 4), 4, 2)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      val keysOf: Map[Long, Set[(Int, String)]] =
        keyRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty)
      // sequential driver reference: store of admitted keys; a doc
      // drops on a store collision or a smaller-id collision in its
      // own batch; survivors' keys join the store after the batch
      val batches = docs.grouped(
        math.max(1, (docs.size + nBatches - 1) / nBatches)).toSeq
      val store = scala.collection.mutable.Map[(Int, String),
        scala.collection.mutable.Set[Long]]()
      val expected = scala.collection.mutable.Set[Long]()
      batches.foreach { b =>
        val surv = b.filter { case (id, _) =>
          val ks = keysOf(id)
          val vsStore = ks.exists(k =>
            store.get(k).exists(_.exists(_ != id)))
          val within = b.exists { case (oid, _) =>
            oid < id && keysOf(oid).intersect(ks).nonEmpty }
          !vsStore && !within
        }
        surv.foreach { case (id, _) =>
          expected += id
          keysOf(id).foreach(k =>
            store.getOrElseUpdate(k,
              scala.collection.mutable.Set.empty) += id)
        }
      }
      // engine side over a fresh store, same batch order
      val dir = java.nio.file.Files.createTempDirectory("admprop")
        .toString + "/store"
      val got = batches.flatMap { b =>
        graft.functions.Dedup.nearDupFilterBatch(b.toDF("doc_id", "text"),
            dir, "doc_id", "text", shingleN = 2, k = 4, bands = 2)
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      (got == expected.toSet) :|
        s"admission diverged: engine $got vs reference $expected"
    }

  // the admission law with TAKEDOWNS interleaved: after each batch a
  // random subset of that batch's ids is removed from the store
  // (content-keyed), and later batches must behave as if the removed
  // docs' keys were never admitted — engine ≡ a sequential reference
  // that forgets them
  private val genAdmRemCorpus
      : Gen[(Seq[(Long, String)], Int, Set[Long])] = for {
    (docs, nBatches) <- genAdmCorpus
    rm <- Gen.someOf(docs.map(_._1))
  } yield (docs, nBatches, rm.toSet)

  property("admission with interleaved takedowns ≡ sequential reference " +
    "that forgets removed docs") =
    Prop.forAll(genAdmRemCorpus) { case (docs, nBatches, rmIds) =>
      val s = spark; import s.implicits._
      val allDF = docs.toDF("doc_id", "text")
      val keyRows = graft.functions.Dedup.lshBands(
          graft.functions.Dedup.minhashSignatures(
            graft.functions.Dedup.docShingleHashes(
              allDF, "doc_id", "text", 2), 4), 4, 2)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      val keysOf: Map[Long, Set[(Int, String)]] =
        keyRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty)
      val batches = docs.grouped(
        math.max(1, (docs.size + nBatches - 1) / nBatches)).toSeq
      val store = scala.collection.mutable.Map[(Int, String),
        scala.collection.mutable.Set[Long]]()
      val expected = scala.collection.mutable.Set[Long]()
      batches.foreach { b =>
        val surv = b.filter { case (id, _) =>
          val ks = keysOf(id)
          val vsStore = ks.exists(k =>
            store.get(k).exists(_.exists(_ != id)))
          val within = b.exists { case (oid, _) =>
            oid < id && keysOf(oid).intersect(ks).nonEmpty }
          !vsStore && !within
        }
        surv.foreach { case (id, _) =>
          expected += id
          keysOf(id).foreach(k =>
            store.getOrElseUpdate(k,
              scala.collection.mutable.Set.empty) += id)
        }
        // takedown: this batch's removed ids vanish from the store
        // (admission history `expected` keeps them — they WERE
        // admitted; removal only stops future suppression)
        val rmB = b.map(_._1).filter(rmIds).toSet
        store.values.foreach(_ --= rmB)
      }
      val dir = java.nio.file.Files.createTempDirectory("admrmprop")
        .toString + "/store"
      val got = batches.flatMap { b =>
        val surv = graft.functions.Dedup.nearDupFilterBatch(
            b.toDF("doc_id", "text"),
            dir, "doc_id", "text", shingleN = 2, k = 4, bands = 2)
          .select("doc_id").collect().map(_.getLong(0))
        val rmB = b.filter { case (id, _) => rmIds(id) }
        if (rmB.nonEmpty)
          graft.functions.Dedup.nearDupRemove(rmB.toDF("doc_id", "text"),
            dir, "doc_id", "text", shingleN = 2, k = 4, bands = 2)
        surv
      }.toSet
      (got == expected.toSet) :|
        s"takedown admission diverged: engine $got vs " +
          s"reference $expected"
    }

  // the admission law under WINDOWED retention: every batch carries a
  // deterministic stamp and a random suppressSince cutoff — stored
  // keys admitted before the cutoff must not suppress, exactly like a
  // sequential reference that filters its store by stamp
  private val genAdmWinCorpus
      : Gen[(Seq[(Long, String)], Int, Seq[Long])] = for {
    (docs, nBatches) <- genAdmCorpus
    sinces <- Gen.listOfN(nBatches,
      Gen.oneOf(0L, 500L, 1500L, 2500L))
  } yield (docs, nBatches, sinces)

  property("windowed admission ≡ sequential reference filtering its " +
    "store by stamp") =
    Prop.forAll(genAdmWinCorpus) { case (docs, nBatches, sinces) =>
      val s = spark; import s.implicits._
      val allDF = docs.toDF("doc_id", "text")
      val keyRows = graft.functions.Dedup.lshBands(
          graft.functions.Dedup.minhashSignatures(
            graft.functions.Dedup.docShingleHashes(
              allDF, "doc_id", "text", 2), 4), 4, 2)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      val keysOf: Map[Long, Set[(Int, String)]] =
        keyRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty)
      val batches = docs.grouped(
        math.max(1, (docs.size + nBatches - 1) / nBatches)).toSeq
      val store = scala.collection.mutable.Map[(Int, String),
        scala.collection.mutable.Set[(Long, Long)]]() // (id, adm_ts)
      val expected = scala.collection.mutable.Set[Long]()
      batches.zipWithIndex.foreach { case (b, i) =>
        val ts = 1000L * (i + 1)
        val since = sinces(i)
        val surv = b.filter { case (id, _) =>
          val ks = keysOf(id)
          val vsStore = ks.exists(k => store.get(k).exists(_.exists {
            case (oid, ots) => oid != id && ots >= since }))
          val within = b.exists { case (oid, _) =>
            oid < id && keysOf(oid).intersect(ks).nonEmpty }
          !vsStore && !within
        }
        surv.foreach { case (id, _) =>
          expected += id
          keysOf(id).foreach(k =>
            store.getOrElseUpdate(k,
              scala.collection.mutable.Set.empty) += ((id, ts)))
        }
      }
      val dir = java.nio.file.Files.createTempDirectory("admwinprop")
        .toString + "/store"
      val got = batches.zipWithIndex.flatMap { case (b, i) =>
        graft.functions.Dedup.nearDupFilterBatch(b.toDF("doc_id", "text"),
            dir, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
            admittedAt = 1000L * (i + 1), suppressSince = sinces(i))
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      (got == expected.toSet) :|
        s"windowed admission diverged: engine $got vs reference $expected"
    }

  // the admission law with a LAYOUT MIGRATION interleaved: the store
  // is rebucketed to a random new modulus at a random batch boundary
  // (callers switch nBuckets with it) — admission decisions must stay
  // bit-identical to the bucket-oblivious sequential reference
  private val genAdmRebCorpus
      : Gen[(Seq[(Long, String)], Int, Int, Int)] = for {
    (docs, nBatches) <- genAdmCorpus
    at <- Gen.choose(0, nBatches - 1)
    newN <- Gen.oneOf(2, 16, 128)
  } yield (docs, nBatches, at, newN)

  property("admission with an interleaved rebucket migration ≡ " +
    "sequential reference") =
    Prop.forAll(genAdmRebCorpus) { case (docs, nBatches, at, newN) =>
      val s = spark; import s.implicits._
      val allDF = docs.toDF("doc_id", "text")
      val keyRows = graft.functions.Dedup.lshBands(
          graft.functions.Dedup.minhashSignatures(
            graft.functions.Dedup.docShingleHashes(
              allDF, "doc_id", "text", 2), 4), 4, 2)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      val keysOf: Map[Long, Set[(Int, String)]] =
        keyRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty)
      val batches = docs.grouped(
        math.max(1, (docs.size + nBatches - 1) / nBatches)).toSeq
      val store = scala.collection.mutable.Map[(Int, String),
        scala.collection.mutable.Set[Long]]()
      val expected = scala.collection.mutable.Set[Long]()
      batches.foreach { b =>
        val surv = b.filter { case (id, _) =>
          val ks = keysOf(id)
          val vsStore = ks.exists(k =>
            store.get(k).exists(_.exists(_ != id)))
          val within = b.exists { case (oid, _) =>
            oid < id && keysOf(oid).intersect(ks).nonEmpty }
          !vsStore && !within
        }
        surv.foreach { case (id, _) =>
          expected += id
          keysOf(id).foreach(k =>
            store.getOrElseUpdate(k,
              scala.collection.mutable.Set.empty) += id)
        }
      }
      val dir = java.nio.file.Files.createTempDirectory("admrebprop")
        .toString + "/store"
      val got = batches.zipWithIndex.flatMap { case (b, i) =>
        if (i == at)
          graft.functions.Dedup.rebucketAdmitted(spark, dir, newN)
        val n = if (i >= at) newN else 4
        graft.functions.Dedup.nearDupFilterBatch(b.toDF("doc_id", "text"),
            dir, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
            nBuckets = n)
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      (got == expected.toSet) :|
        s"rebucketed admission diverged: engine $got vs reference $expected"
    }

  // the WINDOWED law with a rebucket interleaved — the composition
  // that would expose a migration dropping or re-stamping adm_ts
  // (windowed suppression would silently change after the move): the
  // reference is bucket-oblivious AND migration-oblivious, so stamps
  // must ride the migration bit-intact
  private val genAdmWinRebCorpus
      : Gen[(Seq[(Long, String)], Int, Seq[Long], Int, Int)] = for {
    (docs, nBatches, sinces) <- genAdmWinCorpus
    at <- Gen.choose(0, nBatches - 1)
    newN <- Gen.oneOf(2, 16, 128)
  } yield (docs, nBatches, sinces, at, newN)

  property("windowed admission with an interleaved rebucket ≡ " +
    "sequential stamped reference (stamps survive the migration)") =
    Prop.forAll(genAdmWinRebCorpus) {
      case (docs, nBatches, sinces, at, newN) =>
      val s = spark; import s.implicits._
      val allDF = docs.toDF("doc_id", "text")
      val keyRows = graft.functions.Dedup.lshBands(
          graft.functions.Dedup.minhashSignatures(
            graft.functions.Dedup.docShingleHashes(
              allDF, "doc_id", "text", 2), 4), 4, 2)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      val keysOf: Map[Long, Set[(Int, String)]] =
        keyRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty)
      val batches = docs.grouped(
        math.max(1, (docs.size + nBatches - 1) / nBatches)).toSeq
      val store = scala.collection.mutable.Map[(Int, String),
        scala.collection.mutable.Set[(Long, Long)]]() // (id, adm_ts)
      val expected = scala.collection.mutable.Set[Long]()
      batches.zipWithIndex.foreach { case (b, i) =>
        val ts = 1000L * (i + 1)
        val since = sinces(i)
        val surv = b.filter { case (id, _) =>
          val ks = keysOf(id)
          val vsStore = ks.exists(k => store.get(k).exists(_.exists {
            case (oid, ots) => oid != id && ots >= since }))
          val within = b.exists { case (oid, _) =>
            oid < id && keysOf(oid).intersect(ks).nonEmpty }
          !vsStore && !within
        }
        surv.foreach { case (id, _) =>
          expected += id
          keysOf(id).foreach(k =>
            store.getOrElseUpdate(k,
              scala.collection.mutable.Set.empty) += ((id, ts)))
        }
      }
      val dir = java.nio.file.Files.createTempDirectory("admwrbprop")
        .toString + "/store"
      val got = batches.zipWithIndex.flatMap { case (b, i) =>
        if (i == at)
          graft.functions.Dedup.rebucketAdmitted(spark, dir, newN)
        val n = if (i >= at) newN else 4
        graft.functions.Dedup.nearDupFilterBatch(b.toDF("doc_id", "text"),
            dir, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
            nBuckets = n,
            admittedAt = 1000L * (i + 1), suppressSince = sinces(i))
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      (got == expected.toSet) :|
        s"windowed+rebucket admission diverged: engine $got vs " +
          s"reference $expected"
    }

  // the admission law with INCREMENTAL SPLITS interleaved INSIDE the
  // admission turns (extendible-hashing growth — the online
  // alternative to the exclusive rebucket): every turn folds and
  // auto-splits over-budget buckets (maxBucketBytes=1 over a 2-bucket
  // base forces real multi-depth chains), and a policy-driven
  // maintainAdmitted pass runs at a random batch boundary. Decisions
  // must stay bit-identical to the split-oblivious sequential
  // reference — no exclusivity, no pending marker, callers keep
  // passing the BASE modulus throughout.
  private val genAdmSplitCorpus
      : Gen[(Seq[(Long, String)], Int, Int)] = for {
    (docs, nBatches) <- genAdmCorpus
    at <- Gen.choose(0, nBatches - 1)
  } yield (docs, nBatches, at)

  property("admission with online bucket splits inside every turn ≡ " +
    "sequential reference (growth without exclusivity)") =
    Prop.forAll(genAdmSplitCorpus) { case (docs, nBatches, at) =>
      val s = spark; import s.implicits._
      val allDF = docs.toDF("doc_id", "text")
      val keyRows = graft.functions.Dedup.lshBands(
          graft.functions.Dedup.minhashSignatures(
            graft.functions.Dedup.docShingleHashes(
              allDF, "doc_id", "text", 2), 4), 4, 2)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      val keysOf: Map[Long, Set[(Int, String)]] =
        keyRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty)
      val batches = docs.grouped(
        math.max(1, (docs.size + nBatches - 1) / nBatches)).toSeq
      val store = scala.collection.mutable.Map[(Int, String),
        scala.collection.mutable.Set[Long]]()
      val expected = scala.collection.mutable.Set[Long]()
      batches.foreach { b =>
        val surv = b.filter { case (id, _) =>
          val ks = keysOf(id)
          val vsStore = ks.exists(k =>
            store.get(k).exists(_.exists(_ != id)))
          val within = b.exists { case (oid, _) =>
            oid < id && keysOf(oid).intersect(ks).nonEmpty }
          !vsStore && !within
        }
        surv.foreach { case (id, _) =>
          expected += id
          keysOf(id).foreach(k =>
            store.getOrElseUpdate(k,
              scala.collection.mutable.Set.empty) += id)
        }
      }
      val dir = java.nio.file.Files.createTempDirectory("admsplprop")
        .toString + "/store"
      val got = batches.zipWithIndex.flatMap { case (b, i) =>
        if (i == at)
          graft.functions.Dedup.maintainAdmitted(spark, dir,
            graft.functions.Dedup.AdmissionMaintenancePolicy(
              maxBucketBytes = 1L, maxSplitsPerRun = 4,
              compactOverFiles = 1))
        graft.functions.Dedup.nearDupFilterBatch(b.toDF("doc_id", "text"),
            dir, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
            nBuckets = 2, tailFoldFiles = 0,
            maxBucketBytes = 1L, maxSplitsPerTurn = 2)
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      (got == expected.toSet) :|
        s"split admission diverged: engine $got vs " +
          s"reference $expected"
    }

  // the WINDOWED law with splits interleaved — the composition that
  // would expose a split dropping or re-stamping adm_ts (windowed
  // suppression would silently change after the move): the reference
  // is split-oblivious AND stamp-aware, so stamps must ride every
  // split (and the fold's re-routing) bit-intact
  private val genAdmWinSplitCorpus
      : Gen[(Seq[(Long, String)], Int, Seq[Long], Int)] = for {
    (docs, nBatches, sinces) <- genAdmWinCorpus
    at <- Gen.choose(0, nBatches - 1)
  } yield (docs, nBatches, sinces, at)

  property("windowed admission with online splits inside every turn ≡ " +
    "sequential stamped reference (stamps survive the splits)") =
    Prop.forAll(genAdmWinSplitCorpus) {
      case (docs, nBatches, sinces, at) =>
      val s = spark; import s.implicits._
      val allDF = docs.toDF("doc_id", "text")
      val keyRows = graft.functions.Dedup.lshBands(
          graft.functions.Dedup.minhashSignatures(
            graft.functions.Dedup.docShingleHashes(
              allDF, "doc_id", "text", 2), 4), 4, 2)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      val keysOf: Map[Long, Set[(Int, String)]] =
        keyRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty)
      val batches = docs.grouped(
        math.max(1, (docs.size + nBatches - 1) / nBatches)).toSeq
      val store = scala.collection.mutable.Map[(Int, String),
        scala.collection.mutable.Set[(Long, Long)]]() // (id, adm_ts)
      val expected = scala.collection.mutable.Set[Long]()
      batches.zipWithIndex.foreach { case (b, i) =>
        val ts = 1000L * (i + 1)
        val since = sinces(i)
        val surv = b.filter { case (id, _) =>
          val ks = keysOf(id)
          val vsStore = ks.exists(k => store.get(k).exists(_.exists {
            case (oid, ots) => oid != id && ots >= since }))
          val within = b.exists { case (oid, _) =>
            oid < id && keysOf(oid).intersect(ks).nonEmpty }
          !vsStore && !within
        }
        surv.foreach { case (id, _) =>
          expected += id
          keysOf(id).foreach(k =>
            store.getOrElseUpdate(k,
              scala.collection.mutable.Set.empty) += ((id, ts)))
        }
      }
      val dir = java.nio.file.Files.createTempDirectory("admwspprop")
        .toString + "/store"
      val got = batches.zipWithIndex.flatMap { case (b, i) =>
        if (i == at)
          graft.functions.Dedup.maintainAdmitted(spark, dir,
            graft.functions.Dedup.AdmissionMaintenancePolicy(
              maxBucketBytes = 1L, maxSplitsPerRun = 4))
        graft.functions.Dedup.nearDupFilterBatch(b.toDF("doc_id", "text"),
            dir, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
            nBuckets = 2, tailFoldFiles = 0,
            maxBucketBytes = 1L, maxSplitsPerTurn = 2,
            admittedAt = 1000L * (i + 1), suppressSince = sinces(i))
          .select("doc_id").collect().map(_.getLong(0))
      }.toSet
      (got == expected.toSet) :|
        s"windowed+split admission diverged: engine " +
          s"$got vs reference $expected"
    }

  property("crossDupPairs ≡ driver-side bipartite jaccard on random " +
    "corpora") =
    Prop.forAll(genAdmCorpus) { case (docs, _) =>
      val s = spark; import s.implicits._
      val allDF = docs.toDF("doc_id", "text")
      val sh = graft.functions.Dedup.docShingleHashes(
        allDF, "doc_id", "text", 2)
      val shRows = sh.collect().map(r => (r.getLong(0), r.getLong(1)))
      val setsOf: Map[Long, Set[Long]] =
        shRows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
          .withDefaultValue(Set.empty)
      val evens = docs.map(_._1).filter(_ % 2 == 0)
      val odds = docs.map(_._1).filter(_ % 2 == 1)
      val expected = (for {
        a <- evens; b <- odds
        inter = setsOf(a).intersect(setsOf(b)).size
        if inter > 0
        union = setsOf(a).size + setsOf(b).size - inter
        if inter.toDouble / union.toDouble >= 0.3
      } yield (a, b)).toSet
      val got = graft.functions.Dedup.crossDupPairs(
          sh.filter(col("doc_id") % 2 === 0),
          sh.filter(col("doc_id") % 2 === 1), 0.3)
        .select("left_id", "right_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got == expected) :|
        s"bipartite jaccard diverged: engine $got vs reference $expected"
    }
}
