package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Text}

/** Dedup operator semantics on constructed near/exact duplicates —
  * properties the oracle (which only re-runs the same algorithm)
  * cannot establish.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  /** The committed generation's per-bucket data files (absolute paths)
    * of an admission store — what the store's probes and rewrites
    * address.
    */
  private def bucketFiles(store: String): Map[Int, Seq[String]] = {
    val st = graft.functions.AdmissionManifestStore(store)
    st.allBuckets(spark, st.resolve(spark).get)
      .map { case (a, fls) => a -> fls.map(f => s"$store/${f.path}") }
  }

  /** The files a relation scans, as plain local paths. */
  private def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new java.net.URI(f).getPath).toSet

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
    (2L, "THE  quick brown fox jumps over the lazy dog near the river bank"), // dup after normalization
    (3L, "the quick brown fox jumps over the lazy cat near the river bank"),  // near-dup (1 token)
    (4L, "completely different content about spark query engines and shuffles here"),
    (5L, "another unrelated document discussing parquet files and column pruning")
  ).toDF("doc_id", "text")

  test("exact dedup groups by normalized content, min id survives") {
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups(0L) === 3L)        // docs 0,1,2 collapse to keep_id 0
    assert(groups.size === 4)
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(0L, 3L, 4L, 5L))
  }

  test("jaccard: near-identical docs score high, unrelated score low") {
    val sh = Dedup.docShingleHashes(docs, "doc_id", "text", 3)
    val pairs = Dedup.jaccardPairs(sh, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs((0L, 1L)) === 1.0)             // identical shingle sets
    assert(pairs((0L, 3L)) > 0.5)               // one token changed
    assert(!pairs.contains((0L, 4L)) || pairs((0L, 4L)) < 0.2)
  }

  test("hot-shingle DF cap bounds the join fan-out, default changes nothing") {
    // 40 docs that all share one boilerplate sentence (its shingles
    // have DF = 40) plus unique content. Uncapped, the boilerplate
    // alone joins every doc to every other: ≥ C(40,2) = 780 pairs.
    val boiler = "all rights reserved contact us terms of service apply here"
    val corpus = (0 until 40)
      .map(i => (i.toLong, s"$boiler unique document number $i payload token$i"))
      .toDF("doc_id", "text")
    val sh = Dedup.docShingleHashes(corpus, "doc_id", "text", 3)
    val uncapped = Dedup.jaccardPairs(sh, 0.0)
    assert(uncapped.count() >= 780, "boilerplate should connect all docs")
    // τ = 10 drops every DF-40 boilerplate shingle; the only shingles
    // left are the per-doc unique tails, which no two docs share → the
    // quadratic pair blowup disappears entirely.
    val capped = Dedup.jaccardPairs(sh, 0.0, maxShingleDf = 10)
    assert(capped.count() === 0, "capped index must not join on boilerplate")
    // τ = MaxValue (the default) is bit-identical to the uncapped run.
    val dflt = Dedup.jaccardPairs(sh, 0.0, maxShingleDf = Long.MaxValue)
    assert(dflt.except(uncapped).count() === 0 &&
      uncapped.except(dflt).count() === 0)
  }

  test("oversized hot-shingle list takes the broadcast anti-join fallback") {
    // Boilerplate-heavy corpus: three copies of a 10 100-word page
    // put >maxInsetHotKeys distinct shingles over df=2 — the hot list
    // outgrows what an INSET literal should carry, so exclusion must
    // flip to the broadcast anti-join and still compute the exact
    // capped-universe jaccard for the surviving (non-hot) docs.
    val page = (0 until 10100).map(i => s"w$i").mkString(" ")
    val corpus = (Seq(0L, 1L, 2L).map(id => (id, page)) ++
      Seq((10L, "zeta eta theta iota kappa lambda"),
          (11L, "zeta eta theta iota kappa lambda")))
      .toDF("doc_id", "text")
    val sh = Dedup.docShingleHashes(corpus, "doc_id", "text", 3)
    val nHot = sh.groupBy("sh").count()
      .filter(col("count") > 2).count()
    assert(nHot > Dedup.maxInsetHotKeys,
      s"fixture too small to trigger the fallback: $nHot hot shingles")
    val pairs = Dedup.jaccardPairs(sh, 0.5, maxShingleDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    // the boilerplate trio loses every shingle → contributes no pairs;
    // the small near-dup pair survives with full-universe jaccard
    assert(pairs === Map((10L, 11L) -> 1.0), s"got $pairs")
  }

  test("hot-bucket guard bounds LSH pair fan-out on exact-dup clusters") {
    // A 1000-copy exact-duplicate cluster: identical docs have
    // identical signatures, so EVERY band puts all 1000 in one bucket
    // — C(1000,2) = 499500 candidate pairs without a guard, m²/2 at
    // any corpus size. This is the degenerate case the cap exists for
    // (real crawls: one boilerplate error page mirrored everywhere).
    val cluster = (0 until 1000).map(i =>
      (i.toLong, "identical mirrored error page body served everywhere today"))
    val rest = Seq(
      (2000L, "regular document discussing spark query engines in detail"),
      (2001L, "unrelated text about parquet column pruning and statistics"))
    val corpus = (cluster ++ rest).toDF("doc_id", "text")
    val bands = Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.docShingleHashes(corpus, "doc_id", "text", 3), 16), 16, 4)
    val unguarded = Dedup.lshCandidatePairs(bands)
    assert(unguarded.count() >= 499500L, "cluster should explode unguarded")
    // cap 100: the four 1000-doc buckets are dropped (logged), the
    // quadratic fan-out disappears; the two distinct docs don't
    // collide, so nothing remains.
    val guarded = Dedup.lshCandidatePairs(bands, maxBucketSize = 100)
    assert(guarded.count() === 0, "guard must drop the oversized buckets")
    // a cap that nothing exceeds is bit-identical to the default
    val loose = Dedup.lshCandidatePairs(bands, maxBucketSize = 1000000)
    assert(loose.except(unguarded).count() === 0 &&
      unguarded.except(loose).count() === 0)
  }

  test("jaccardPairs: table-backed inverted index ≡ localCheckpoint path") {
    val sh = Dedup.docShingleHashes(docs, "doc_id", "text", 3)
    val ckpt = Dedup.jaccardPairs(sh, 0.0)
    val table = Dedup.jaccardPairs(sh, 0.0,
      indexPath = Some(tmpDir("jaccard-inverted-index")))
    assert(table.except(ckpt).count() === 0 &&
      ckpt.except(table).count() === 0)
    // capped variant over the persisted index agrees too
    val ckptCap = Dedup.jaccardPairs(sh, 0.0, maxShingleDf = 10)
    val tableCap = Dedup.jaccardPairs(sh, 0.0, maxShingleDf = 10,
      indexPath = Some(tmpDir("jaccard-inverted-index-cap")))
    assert(tableCap.except(ckptCap).count() === 0 &&
      ckptCap.except(tableCap).count() === 0)
  }

  test("minhash LSH candidates contain the true near-duplicates") {
    val sh = Dedup.docShingleHashes(docs, "doc_id", "text", 3)
    val cands = Dedup.lshCandidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(sh, 16), 16, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)), "exact dup pair missed by LSH")
    // unrelated docs must not collide on any band
    assert(!cands.contains((4L, 5L)), "unrelated docs collided")
  }

  test("streaming exact dedup: fingerprint dropDuplicates across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // content-hash dedup as a STREAM: same normalized fingerprint seen
    // in ANY earlier batch is dropped (state = one row per fingerprint)
    val deduped = input.toDF().toDF("doc_id", "text")
      .withColumn("fp", Text.docFingerprint(col("text")))
      .dropDuplicates("fp")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("sdedup-ckpt"))
      .start()
    input.addData((0L, "alpha beta gamma"), (1L, "ALPHA  beta gamma"))
    q.processAllAvailable()
    // doc 1 normalizes to doc 0's fingerprint → dropped within batch
    assert(spark.table("sdedup").count() === 1)
    // cross-batch: the duplicate arrives batches later, still dropped
    input.addData((2L, "alpha beta gamma"), (3L, "fresh content here"))
    q.processAllAvailable()
    val ids = spark.table("sdedup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(0L, 3L), s"got $ids")
    q.stop()
  }

  test("streaming near-dup filter: store-backed LSH admission control") {
    import spark.implicits._
    val store = tmpDir("ndstore")
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val b1 = Seq(
      (0L, textA),
      (1L, textA), // exact dup within batch → identical keys → dropped
      (2L, "columnar execution engines vectorize parquet scans for analytic joins"))
      .toDF("doc_id", "text")
    val s1 = Dedup.nearDupFilterBatch(b1, store, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === Set(0L, 2L), s"batch-1 survivors $s1")

    val b2 = Seq(
      (3L, textA), // exact dup of stored doc 0 → dropped vs store
      (4L, "streaming watermarks bound state for late arriving event data"))
      .toDF("doc_id", "text")
    val s2 = Dedup.nearDupFilterBatch(b2, store, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 === Set(4L), s"batch-2 survivors $s2")

    // REPLAY of batch 2 (crash between store append and sink write):
    // survivors' keys are already stored, but self-exclusion must make
    // the rerun reproduce the identical survivor set
    val s2r = Dedup.nearDupFilterBatch(b2, store, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2r === s2, s"replay changed survivors: $s2r vs $s2")
  }

  test("admission-store removal: takedown forgets a doc's keys, prunes " +
    "to touched buckets, and is idempotent") {
    import spark.implicits._
    val store = tmpDir("ndrmstore")
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = "columnar execution engines vectorize parquet scans for analytic joins"
    // tailFoldFiles=0: keys land in their L1 buckets immediately, so
    // the untouched-bucket assertions below exercise the pruned path
    Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB)).toDF("doc_id", "text"),
      store, "doc_id", "text", tailFoldFiles = 0).collect()

    // without removal the near-dup of doc 0 is rejected vs the store
    val probe = Seq((2L, textA)).toDF("doc_id", "text")
    val ctl = tmpDir("ndrmstore-ctl")
    Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB)).toDF("doc_id", "text"),
      ctl, "doc_id", "text", tailFoldFiles = 0).collect()
    assert(Dedup.nearDupFilterBatch(probe, ctl, "doc_id", "text")
      .count() === 0L, "control: dup should be rejected pre-removal")

    // snapshot the untouched buckets' file lists: removal of doc 0 must
    // rewrite only the buckets doc 0's keys hash into
    val before = bucketFiles(store)
    val doc0Buckets = Dedup.lshBands(Dedup.minhashSignatures(
        Dedup.docShingleHashes(Seq((0L, textA)).toDF("doc_id", "text"),
          "doc_id", "text", 3), 16), 16, 4)
      .withColumn("adm_kb",
        pmod(xxhash64(col("band"), col("band_key")), lit(64)).cast("int"))
      .select("adm_kb").distinct().collect().map(_.getInt(0)).toSet

    val removed = Dedup.nearDupRemove(
      Seq((0L, textA)).toDF("doc_id", "text"), store, "doc_id", "text")
    assert(removed > 0L, "takedown removed no rows")
    val after = bucketFiles(store)
    (before -- doc0Buckets).foreach { case (b, fls) =>
      assert(after.get(b).contains(fls),
        s"untouched bucket $b rewritten: $fls -> ${after.get(b)}") }

    // idempotent: a second takedown of the same doc is a no-op
    assert(Dedup.nearDupRemove(
      Seq((0L, textA)).toDF("doc_id", "text"), store, "doc_id", "text")
      === 0L)

    // the store has forgotten doc 0: its near-dup is now admitted,
    // while doc 1's keys survived the rewrite (its dup still rejected)
    val s2 = Dedup.nearDupFilterBatch(probe, store, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 === Set(2L), s"takedown did not free admission: $s2")
    assert(Dedup.nearDupFilterBatch(
      Seq((3L, textB)).toDF("doc_id", "text"), store, "doc_id", "text")
      .count() === 0L, "removal lost an unrelated doc's keys")
  }

  test("streaming near-dup filter wired through foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("ndstream-store")
    val out = tmpDir("ndstream-out") + "/admitted"
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ndstream-ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.nearDupFilterBatch(batch, store, "doc_id", "text")
          .write.mode("append").parquet(out)
      }
      .start()
    input.addData((0L, textA),
      (1L, "columnar execution engines vectorize parquet scans for joins"))
    q.processAllAvailable()
    input.addData((2L, textA), // dup of doc 0, seen two batches earlier
      (3L, "watermarks bound streaming state for late event arrivals"))
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted === Set(0L, 1L, 3L), s"admitted $admitted")
  }

  test("streaming EMBEDDING admission wired through foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmpDir("eadstream-store")
    val out = tmpDir("eadstream-out") + "/admitted"
    // deterministic 8-dim vectors; vec 2 is an exact copy of vec 0
    // arriving two batches later — the semantic duplicate the lexical
    // filter can't see
    def vec(seed: Int): Seq[Float] =
      (0 until 8).map(d => ((seed * 31 + d * 7) % 13 - 6).toFloat)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir("eadstream-ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.functions.Similarity.embedNearDupFilterBatch(batch, store,
            planes = 12, dims = 8, tables = 8)
          .write.mode("append").parquet(out)
      }
      .start()
    input.addData((0L, vec(1)), (1L, vec(2)))
    q.processAllAvailable()
    input.addData((2L, vec(1)), (3L, vec(3)))
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted.contains(0L) && !admitted.contains(2L),
      s"exact-copy vector must be rejected across batches: $admitted")
    assert(admitted.contains(1L) || admitted.contains(3L),
      s"distinct vectors over-dropped: $admitted")
  }

  test("admission store: the per-batch store join is partition-pruned " +
    "to the batch's own buckets") {
    import spark.implicits._
    val store = tmpDir("ndstore-prune")
    // seed several batches so multiple buckets exist (tailFoldFiles=0
    // folds the L0 tail into the buckets every turn)
    for (i <- 0 until 4)
      Dedup.nearDupFilterBatch(
        Seq((i.toLong, s"unique document number $i with forty words " +
          s"about topic-$i and trailing filler tokens for shingles"))
          .toDF("doc_id", "text"), store, "doc_id", "text",
        tailFoldFiles = 0)
    val st = graft.functions.AdmissionManifestStore(store)
    val man = st.resolve(spark).get
    val buckets = bucketFiles(store)
    assert(buckets.size >= 2,
      s"seed batches landed in ${buckets.size} bucket(s) — the " +
        "pruning assertion below needs at least two")
    assert(man.tail.isEmpty, "every turn folded, so the tail is empty")
    // the EXACT production relation a batch joins, sliced to one of the
    // existing buckets: the scan must read ONLY that bucket's files (a
    // full-store scan here is the 100 TB regression this pin exists for)
    val target = buckets.keys.min
    val slice = st.probeRel(spark, man, Seq("band", "band_key"),
      Seq(target), suppressSince = 0L).get
    assert(scanned(slice) === buckets(target).toSet,
      s"store slice read files outside bucket $target: ${scanned(slice)}")
    // untouched buckets yield no relation at all
    val absentBucket = (0 until 64).find(b => !buckets.contains(b)).get
    assert(st.probeRel(spark, man, Seq("band", "band_key"),
      Seq(absentBucket), suppressSince = 0L).isEmpty)
    // and the pruned slice really reads only that bucket's rows
    val sliceIds = slice.select("s_id").distinct().collect()
      .map(_.getLong(0)).toSet
    val bucketIds = spark.read.parquet(buckets(target): _*)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(sliceIds === bucketIds,
      "pruned slice rows diverge from the bucket's files")
  }

  test("admission store auto-compacts over-fragmented buckets; " +
    "admission decisions identical across compaction (replay-safe)") {
    import spark.implicits._
    val store = tmpDir("ndstore-autocompact")
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river bank under a pale morning sky"
    def admit(batch: Seq[(Long, String)]): Set[Long] =
      Dedup.nearDupFilterBatch(batch.toDF("doc_id", "text"), store,
          "doc_id", "text", autoCompactFiles = 1, tailFoldFiles = 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admit(Seq((0L, base))) === Set(0L))
    // several single-doc batches of DISTINCT content: every admitted
    // batch appends a file; with the 1-file budget, any bucket a
    // second batch touches compacts in that writer's own turn
    val lastBatch = Seq((9L, base.replace("fox", "wolf"))) // near-dup of 0
    for (i <- 1L to 5L)
      admit(Seq((i, s"completely different subject matter $i " +
        s"covering topic-$i with enough words to shingle cleanly")))
    val perBucket = bucketFiles(store).values.map(_.length)
    // budget may be exceeded by exactly the one fresh append a bucket
    // untouched since compaction carries; never unbounded growth
    assert(perBucket.forall(_ <= 2),
      s"bucket file counts after auto-compaction: ${perBucket.toSeq}")
    assert(perBucket.exists(_ == 1),
      "no bucket was ever rewritten — the compaction path never ran")
    // the compacted store still carries every admitted doc's keys: a
    // near-dup of the FIRST admitted doc is still rejected
    assert(admit(lastBatch) === Set.empty[Long],
      "compaction lost admitted keys — near-dup re-admitted")
    // replay idempotence across compaction: re-running an old batch
    // reproduces its survivor set bit-for-bit
    assert(admit(Seq((3L, "completely different subject matter 3 " +
      "covering topic-3 with enough words to shingle cleanly"))) ===
      Set(3L), "replay after compaction changed the survivor set")
  }

  test("windowed admission: out-of-window keys stop suppressing at " +
    "query time, expire physically, and replays don't grow the store") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = "columnar execution engines vectorize parquet scans for analytic joins"
    def admit(store: String, batch: Seq[(Long, String)], ts: Long,
              since: Long = 0L): Set[Long] =
      Dedup.nearDupFilterBatch(batch.toDF("doc_id", "text"), store,
          "doc_id", "text", admittedAt = ts, suppressSince = since)
        .select("doc_id").collect().map(_.getLong(0)).toSet

    // query-time window: doc 0 admitted before the cutoff, doc 1 after
    val w = tmpDir("ndwin")
    admit(w, Seq((0L, textA)), ts = 1000L)
    admit(w, Seq((1L, textB)), ts = 2000L)
    assert(admit(w, Seq((2L, textA), (3L, textB)), ts = 3000L,
      since = 1500L) === Set(2L),
      "window must hide doc 0's keys and keep doc 1's")

    // physical expiry: the same store shape, expired instead of hidden
    val x = tmpDir("ndexp")
    admit(x, Seq((0L, textA)), ts = 1000L)
    admit(x, Seq((1L, textB)), ts = 2000L)
    val expired = Dedup.expireAdmitted(spark, x, 1500L)
    assert(expired > 0L, "expiry removed no rows")
    assert(Dedup.expireAdmitted(spark, x, 1500L) === 0L,
      "expiry is not idempotent")
    assert(admit(x, Seq((4L, textA), (5L, textB)), ts = 3000L)
      === Set(4L), "expired keys still suppress (or fresh ones lost)")

    // compact-time auto-expiry: expireBefore rides the writer's own
    // fold/compaction — out-of-window rows are shed physically with
    // no separate maintenance pass
    val e = tmpDir("ndautoexp")
    admit(e, Seq((0L, textA)), ts = 1000L)
    Dedup.nearDupFilterBatch(Seq((7L, textB)).toDF("doc_id", "text"), e,
      "doc_id", "text", admittedAt = 2000L, tailFoldFiles = 0,
      autoCompactFiles = 0, expireBefore = 1500L)
    assert(admit(e, Seq((8L, textA), (9L, textB)), ts = 3000L)
      === Set(8L),
      "fold/compact-time expiry must shed doc 0's keys and keep doc 7's")

    // replayed appends collapse at compaction: one row per key, max ts
    val c = tmpDir("ndcollapse")
    admit(c, Seq((6L, textA)), ts = 1000L)
    Dedup.nearDupFilterBatch(Seq((6L, textA)).toDF("doc_id", "text"), c,
      "doc_id", "text", admittedAt = 1500L, autoCompactFiles = 0,
      tailFoldFiles = 0) // replay, then fold+compact in the same turn
    val rows = spark.read.parquet(bucketFiles(c).values.flatten.toSeq: _*)
    assert(rows.count() === rows.select("band", "band_key", "doc_id")
      .distinct().count(), "replayed keys not collapsed at compaction")
    assert(rows.filter(col("adm_ts") =!= 1500L).count() === 0L,
      "compaction must keep the newest admission stamp")
  }

  test("maintenance (remove/expire/split) beside a live admission " +
    "writer: kept keys never lost, removals eventually complete, " +
    "transient turn failures only") {
    import spark.implicits._
    val store = tmpDir("ndconc")
    val nDocs = 24
    // rich, pairwise-distinct content so no two docs share a band key
    // (deterministic md5 family — collisions would need a full-band
    // minhash match across unrelated vocabularies)
    def text(i: Int): String =
      s"subject$i alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i " +
        s"golf$i hotel$i india$i juliet$i kilo$i lima$i"
    val removeIds = (0 until nDocs by 3).map(_.toLong).toSet
    def retrying[A](what: String, attempts: Int)(f: => A): A = {
      var left = attempts
      while (true) {
        try return f
        catch { case t: Throwable =>
          left -= 1
          if (left <= 0) throw new AssertionError(
            s"$what kept failing under contention", t)
        }
      }
      sys.error("unreachable")
    }
    val admitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val maintFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintTurns = new java.util.concurrent.atomic.AtomicInteger(0)
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    // maintenance thread: content-keyed takedowns of already-admitted
    // docs plus no-op expiry sweeps AND policy-driven bucket splits —
    // the online-growth claim is that splitting needs NO exclusivity,
    // so it must survive racing the writer's per-turn fold/compact
    // like every other maintenance op. Transient failures are the
    // contract's allowed outcome — counted, not fatal; data
    // invariants are asserted below.
    val splitsDone = new java.util.concurrent.atomic.AtomicInteger(0)
    val maint = new Thread(() => {
      try {
        val rnd = new scala.util.Random(7)
        while (!writerDone.get()) {
          val seen = admitted.toArray(Array.empty[java.lang.Long])
            .map(_.longValue).filter(removeIds)
          if (seen.nonEmpty) {
            val r = seen(rnd.nextInt(seen.length))
            maintTurns.incrementAndGet()
            try {
              Dedup.nearDupRemove(Seq((r, text(r.toInt)))
                  .toDF("doc_id", "text"), store, "doc_id", "text",
                shingleN = 2, k = 4, bands = 2)
              Dedup.expireAdmitted(spark, store, 1L) // below all stamps
              splitsDone.addAndGet(Dedup.maintainAdmitted(spark, store,
                Dedup.AdmissionMaintenancePolicy(maxBucketBytes = 1L,
                  maxSplitsPerRun = 1)).split.size)
            } catch { case _: Throwable => maintFailures.incrementAndGet() }
          } else Thread.sleep(20)
        }
      } catch { case t: Throwable => maintErr.set(t) }
    })
    maint.start()
    try {
      // the writer: single-doc batches with fold + compact riding
      // every turn (tailFoldFiles=0, autoCompactFiles=1 — maximum
      // directory-rewrite pressure against the maintenance thread)
      for (i <- 0 until nDocs) {
        val s = retrying(s"admission batch $i", 5) {
          Dedup.nearDupFilterBatch(
            Seq((i.toLong, text(i))).toDF("doc_id", "text"),
            store, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
            tailFoldFiles = 0, autoCompactFiles = 1)
            .select("doc_id").collect().map(_.getLong(0)).toSet
        }
        assert(s === Set(i.toLong), s"distinct doc $i not admitted: $s")
        s.foreach(admitted.add(_))
      }
    } finally {
      writerDone.set(true)
      maint.join(120000)
    }
    assert(maintErr.get() === null, s"maintenance thread crashed " +
      s"outside a turn: ${maintErr.get()}")
    assert(maintTurns.get() > 0, "maintenance thread never ran a turn")
    // splits-beside-writer non-vacuity: if every racing split attempt
    // happened to fail transiently, a quiesced policy pass must still
    // split the post-race store — either way the layout this test's
    // invariants run against below HAS lived through splits
    if (splitsDone.get() == 0)
      splitsDone.addAndGet(retrying("quiesced split pass", 5) {
        Dedup.maintainAdmitted(spark, store,
          Dedup.AdmissionMaintenancePolicy(maxBucketBytes = 1L,
            maxSplitsPerRun = 2)).split.size
      })
    assert(splitsDone.get() > 0, "no bucket split ever ran — the " +
      "splits-beside-writer leg of this test is vacuous")
    // removal eventually completes: quiesced re-runs drain to zero
    removeIds.foreach { r =>
      var guard = 10
      while (retrying(s"takedown drain $r", 5) {
          Dedup.nearDupRemove(Seq((r, text(r.toInt)))
              .toDF("doc_id", "text"), store, "doc_id", "text",
            shingleN = 2, k = 4, bands = 2)
        } > 0L) {
        guard -= 1
        assert(guard > 0, s"takedown of $r never drained")
      }
    }
    // kept keys never lost: every admitted, non-removed doc's exact
    // dup is still rejected after all that interleaving
    val kept = (0 until nDocs).map(_.toLong).filterNot(removeIds)
    val keptProbe = Dedup.nearDupFilterBatch(
      kept.map(i => (1000L + i, text(i.toInt))).toDF("doc_id", "text"),
      store, "doc_id", "text", shingleN = 2, k = 4, bands = 2)
    assert(keptProbe.count() === 0L,
      "a kept doc's keys were lost under maintenance concurrency")
    // removed docs' content is re-admittable (the takedown semantics)
    val freedProbe = Dedup.nearDupFilterBatch(
      removeIds.toSeq.sorted.map(i => (2000L + i, text(i.toInt)))
        .toDF("doc_id", "text"),
      store, "doc_id", "text", shingleN = 2, k = 4, bands = 2)
    assert(freedProbe.count() === removeIds.size.toLong,
      "a removed doc's keys still suppress after the takedown drained")
  }

  test("rebucketAdmitted migrates the layout in place: decisions " +
    "identical, pruned scan green on the new modulus, stale-modulus " +
    "refusal, decisions kept across successive migrations") {
    import spark.implicits._
    val store = tmpDir("ndrebucket")
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = "columnar execution engines vectorize parquet scans for analytic joins"
    val textC = "streaming watermarks bound state for late arriving event data"
    // seed the 8-bucket layout: two docs folded into L1, one left in
    // the L0 tail (its stored adm_kb is stale under any new modulus —
    // the migration must rewrite it too)
    Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 8, tailFoldFiles = 0)
    Dedup.nearDupFilterBatch(Seq((2L, textC)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 8)
    val moved = Dedup.rebucketAdmitted(spark, store, 32)
    assert(moved > 0L, "migration moved no rows")
    // the migration is one atomic commit: no pending state, the tail
    // folded into the new layout (no stale-modulus rows), the new
    // modulus declared
    val stats = Dedup.admissionStoreStats(spark, store)
    assert(stats.tailFiles === 0 && stats.declaredBuckets.contains(32),
      s"migration left stale state: $stats")
    // a re-run at the same modulus re-keys exactly the same rows —
    // nothing lost, nothing duplicated
    assert(Dedup.rebucketAdmitted(spark, store, 32) === moved,
      "re-run of a completed migration changed the row set")
    // decisions identical at the new modulus: every admitted doc's
    // near-dups still rejected, fresh content still admitted
    val s1 = Dedup.nearDupFilterBatch(
      Seq((10L, textA), (11L, textB), (12L, textC),
        (13L, "deterministic replay semantics for micro batch sinks"))
        .toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 32)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === Set(13L), s"post-migration decisions diverged: $s1")
    // pruned-scan pin on the NEW layout: the per-batch store join
    // still reads only the touched bucket's files
    val st = graft.functions.AdmissionManifestStore(store)
    val man = st.resolve(spark).get
    val buckets = bucketFiles(store)
    assert(buckets.size >= 2, "need two buckets for the pruning pin")
    val slice = st.probeRel(spark, man, Seq("band", "band_key"),
      Seq(buckets.keys.min), suppressSince = 0L).get
    assert(scanned(slice) ===
      (buckets(buckets.keys.min) ++ man.tail.map(f => s"$store/${f.path}"))
        .toSet, s"post-migration slice read untouched buckets")
    // a stale-modulus caller is refused loudly
    intercept[IllegalArgumentException] {
      Dedup.nearDupFilterBatch(Seq((20L, textA)).toDF("doc_id", "text"),
        store, "doc_id", "text", nBuckets = 8)
    }
    // a successive migration (here: on to a SMALLER modulus) preserves
    // every decision
    assert(Dedup.rebucketAdmitted(spark, store, 4) > 0L)
    val s2 = Dedup.nearDupFilterBatch(
      Seq((21L, textA), (22L, "entirely novel subject matter here with " +
        "enough words to shingle cleanly")).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 === Set(22L), s"post-second-migration decisions diverged: $s2")
  }

  test("splitAdmittedBucket grows the layout online: decisions " +
    "identical at the unchanged base modulus, chain probes reach every " +
    "depth, takedowns and rebucket compose, map state declared") {
    import spark.implicits._
    val store = tmpDir("ndsplit")
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val textB = "columnar execution engines vectorize parquet scans for analytic joins"
    val textC = "streaming watermarks bound state for late arriving event data"
    val st = graft.functions.AdmissionManifestStore(store)
    def declared() = st.resolve(spark).get
    // splitting an absent store / bucket is a no-op
    assert(Dedup.splitAdmittedBucket(spark, store, 0) === 0L)
    // seed a TINY base layout (2 buckets) fully folded into L1
    Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB), (2L, textC)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2, tailFoldFiles = 0)
    assert(Dedup.splitAdmittedBucket(spark, store, 7) === 0L,
      "splitting a bucket that does not exist moved rows")
    val buckets0 = bucketFiles(store).keys.toSeq.sorted
    assert(buckets0.nonEmpty)
    // split the first base bucket: depth 0 -> 1, children in
    // {addr, addr + 2} under modulus 4
    val target = buckets0.head
    val moved1 = Dedup.splitAdmittedBucket(spark, store, target)
    assert(moved1 > 0L, "split moved no rows")
    val man1 = declared()
    assert(man1.maxDepth === 1, s"declared max depth wrong: $man1")
    assert(man1.depthByAddr.nonEmpty &&
      man1.depthByAddr.values.forall(_ === 1) &&
      man1.depthByAddr.keys.forall(a => a == target || a == target + 2),
      s"children not declared at depth 1: ${man1.depthByAddr}")
    val stats1 = Dedup.admissionStoreStats(spark, store)
    assert(stats1.maxDepth === 1 && stats1.splitBuckets > 0,
      s"stats must surface the split layout: $stats1")
    // decisions identical — callers keep the BASE modulus (that is the
    // whole point: growth with no caller-visible layout generation)
    val s1 = Dedup.nearDupFilterBatch(
      Seq((10L, textA), (11L, textB), (12L, textC),
        (13L, "deterministic replay semantics for micro batch sinks"))
        .toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === Set(13L), s"post-split decisions diverged: $s1")
    // split a CHILD again (depth 1 -> 2): chains now span 3 depths
    val child = declared().depthByAddr.keys.max
    if (bucketFiles(store).contains(child)) {
      Dedup.splitAdmittedBucket(spark, store, child)
      assert(declared().maxDepth === 2,
        "second-level split must deepen the declared chain")
    }
    val s2 = Dedup.nearDupFilterBatch(
      Seq((20L, textA), (21L, textB), (22L, textC),
        (23L, "entirely novel subject matter with enough words to shingle"))
        .toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 === Set(23L), s"post-deep-split decisions diverged: $s2")
    // pruned-scan pin on the SPLIT layout: a probe's store slice reads
    // only the buckets on its keys' address CHAINS (chain = the key
    // hash under every declared modulus), and never an off-chain
    // bucket — the probe-side half of the split design
    locally {
      val man = declared()
      val moduli = (0 to man.maxDepth).map(d => 2L << d) // N = 2
      val chain = Dedup.lshBands(Dedup.minhashSignatures(
          Dedup.docShingleHashes(
            Seq((90L, textA)).toDF("doc_id", "text"),
            "doc_id", "text", 3), 16), 16, 4)
        .select(explode(array(moduli.map(m =>
          pmod(xxhash64(col("band"), col("band_key")), lit(m))
            .cast("int")): _*)).as("a"))
        .distinct().collect().map(_.getInt(0)).toSet
      val buckets = bucketFiles(store)
      val slice = st.probeRel(spark, man, Seq("band", "band_key"),
        chain.toSeq, suppressSince = 0L).get
      val allowed = (buckets.filter(b => chain(b._1)).values.flatten ++
        man.tail.map(f => s"$store/${f.path}")).toSet
      assert(scanned(slice).subsetOf(allowed),
        s"split-layout slice read off-chain files: " +
          s"${scanned(slice) -- allowed}")
    }
    // content-keyed takedown reaches rows at ANY depth (chain-expanded
    // touched set): remove doc 0, its dup becomes admittable, the
    // others stay suppressed
    assert(Dedup.nearDupRemove(Seq((0L, textA)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2) > 0L,
      "takedown found nothing in the split layout")
    val s3 = Dedup.nearDupFilterBatch(
      Seq((30L, textA), (31L, textB)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3 === Set(30L),
      s"takedown on the split layout mis-targeted: $s3")
    // a full rebucket migration collapses the split state: fresh
    // generation, depth map reset, decisions preserved
    Dedup.rebucketAdmitted(spark, store, 8)
    val after = declared()
    assert(after.maxDepth === 0 && after.depthByAddr.isEmpty,
      s"rebucket must reset the split declaration: $after")
    val s4 = Dedup.nearDupFilterBatch(
      Seq((40L, textB), (41L, textC),
        (42L, "yet another novel probe with plenty of distinct words here"))
        .toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s4 === Set(42L), s"post-rebucket decisions diverged: $s4")
  }

  test("maintainAdmitted wires stats to actions: threshold-triggered " +
    "compaction, splits, and expiry with decisions unchanged") {
    import spark.implicits._
    val store = tmpDir("ndmaint")
    def text(i: Int): String =
      s"topic$i alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i"
    // grow a fragmented store: every turn folds (tailFoldFiles=0) but
    // never compacts (budget high), so bucket file counts climb
    (0 until 6).foreach { i =>
      Dedup.nearDupFilterBatch(
        Seq((i.toLong, text(i))).toDF("doc_id", "text"),
        store, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
        nBuckets = 2, tailFoldFiles = 0, autoCompactFiles = 1000,
        admittedAt = 1000L * (i + 1))
    }
    val before = Dedup.admissionStoreStats(spark, store)
    assert(before.maxBucketFiles > 1, s"store not fragmented: $before")
    assert(before.maxDepth === 0, s"store split prematurely: $before")
    // the no-op policy does nothing
    assert(Dedup.maintainAdmitted(spark, store,
        Dedup.AdmissionMaintenancePolicy())
      === Dedup.AdmissionMaintenanceReport(0L, Nil, Nil))
    // threshold-triggered compaction + splits in one pass
    val report = Dedup.maintainAdmitted(spark, store,
      Dedup.AdmissionMaintenancePolicy(maxBucketBytes = 1L,
        maxSplitsPerRun = 2, compactOverFiles = 1))
    assert(report.compacted.nonEmpty, s"compaction never triggered: $report")
    assert(report.split.nonEmpty && report.split.size <= 2,
      s"split trigger/cap wrong: $report")
    val after = Dedup.admissionStoreStats(spark, store)
    assert(after.maxDepth >= 1 && after.splitBuckets > 0,
      s"policy splits not reflected in stats: $after")
    // decisions unchanged through the whole maintenance pass
    val dup = Dedup.nearDupFilterBatch(
      (0 until 6).map(i => (100L + i, text(i))).toDF("doc_id", "text"),
      store, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
      nBuckets = 2, admittedAt = 99000L)
    assert(dup.count() === 0L,
      "a kept doc's keys were lost under policy maintenance")
    // expiry leg: everything stamped before the cutoff is reclaimed
    val exp = Dedup.maintainAdmitted(spark, store,
      Dedup.AdmissionMaintenancePolicy(expireBefore = 100000L))
    assert(exp.expired > 0L, s"expiry never triggered: $exp")
    assert(Dedup.nearDupFilterBatch(
        Seq((200L, text(0))).toDF("doc_id", "text"),
        store, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
        nBuckets = 2, admittedAt = 100001L).count() === 1L,
      "expired keys still suppress")
  }

  test("depth governance: repeated splits accrete probe-chain cost " +
    "until the policy recommends a rebase; executing it collapses " +
    "chains to single-address reads with decisions unchanged") {
    import spark.implicits._
    val store = tmpDir("nddepth")
    def text(i: Int): String =
      s"item$i alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i " +
        s"golf$i hotel$i india$i"
    // grow through turns whose 1-byte budget splits every fold —
    // depth accretes because each turn's split children stay over
    // budget forever
    var i = 0
    while (Dedup.admissionStoreStats(spark, store).maxDepth < 2 &&
        i < 12) {
      Dedup.nearDupFilterBatch(
        Seq((i.toLong, text(i))).toDF("doc_id", "text"),
        store, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
        nBuckets = 2, tailFoldFiles = 0, maxBucketBytes = 1L,
        maxSplitsPerTurn = 2)
      i += 1
    }
    val stats0 = Dedup.admissionStoreStats(spark, store)
    assert(stats0.maxDepth >= 2, s"splits never accreted depth: $stats0")
    assert(stats0.probeChainLength === stats0.maxDepth + 1)
    // below the threshold: no recommendation
    val quiet = Dedup.maintainAdmitted(spark, store,
      Dedup.AdmissionMaintenancePolicy(
        maxDepthBeforeRebase = stats0.maxDepth + 1))
    assert(!quiet.rebaseRecommended && quiet.rebasedTo.isEmpty,
      s"premature rebase recommendation: $quiet")
    // at the threshold: recommended but NOT executed without opt-in
    val rec = Dedup.maintainAdmitted(spark, store,
      Dedup.AdmissionMaintenancePolicy(
        maxDepthBeforeRebase = stats0.maxDepth))
    assert(rec.rebaseRecommended && rec.rebasedTo.isEmpty,
      s"recommendation wrong: $rec")
    assert(Dedup.admissionStoreStats(spark, store).maxDepth
      === stats0.maxDepth, "report-only run mutated layout")
    // opt-in executes (online — one atomic commit): chains collapse to
    // single-address reads at the grown modulus
    val auto = Dedup.maintainAdmitted(spark, store,
      Dedup.AdmissionMaintenancePolicy(
        maxDepthBeforeRebase = stats0.maxDepth, autoRebase = true))
    val grown = 2 << stats0.maxDepth
    assert(auto.rebasedTo.contains(grown), s"auto rebase did not run: $auto")
    val stats1 = Dedup.admissionStoreStats(spark, store)
    assert(stats1.maxDepth === 0 && stats1.probeChainLength === 1 &&
      stats1.declaredBuckets.contains(grown),
      s"rebase did not collapse chains: $stats1")
    // decisions unchanged: every admitted doc's dup still rejected
    val probe = Dedup.nearDupFilterBatch(
      (0 until i).map(j => (100L + j, text(j))).toDF("doc_id", "text"),
      store, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
      nBuckets = grown)
    assert(probe.count() === 0L, "rebase changed admission decisions")
  }

  test("admissionStoreStats reflects layout, fragmentation, tail, and " +
    "an atomic migration") {
    import spark.implicits._
    val store = tmpDir("ndstats")
    val absent = Dedup.admissionStoreStats(spark, tmpDir("ndstats-absent"))
    assert(absent === Dedup.AdmissionStoreStats(0, 0L, 0L, 0, 0, 0L,
      declaredBuckets = None))
    // one folded batch (L1 buckets), one tail-resident batch
    Dedup.nearDupFilterBatch(
      Seq((0L, "the quick brown fox jumps over the lazy dog near a bank"))
        .toDF("doc_id", "text"), store, "doc_id", "text",
      nBuckets = 8, tailFoldFiles = 0)
    Dedup.nearDupFilterBatch(
      Seq((1L, "columnar engines vectorize parquet scans for analytics"))
        .toDF("doc_id", "text"), store, "doc_id", "text", nBuckets = 8)
    val s1 = Dedup.admissionStoreStats(spark, store)
    assert(s1.buckets > 0 && s1.bucketFiles > 0 && s1.bucketBytes > 0 &&
      s1.maxBucketFiles > 0, s"empty L1 stats: $s1")
    assert(s1.declaredBuckets === Some(8),
      "first admission must declare the store's modulus")
    assert(s1.tailFiles === 1 && s1.tailBytes > 0,
      s"tail-resident batch not counted: $s1")
    assert(s1.avgBucketBytes > 0 &&
      s1.avgBucketBytes <= s1.bucketBytes)
    // a migration commits atomically: the next stats read reports the
    // complete new layout, never an intermediate one
    Dedup.rebucketAdmitted(spark, store, 32)
    val s2 = Dedup.admissionStoreStats(spark, store)
    assert(s2.tailFiles === 0, "migration must fold the tail")
    assert(s2.buckets >= s1.buckets)
    assert(s2.declaredBuckets === Some(32),
      "migration must update the declared modulus")
    // the silent-under-suppression guard: a caller probing with a
    // stale modulus is refused loudly (admission AND takedown)
    intercept[IllegalArgumentException] {
      Dedup.nearDupFilterBatch(
        Seq((9L, "any text at all for the refusal probe here"))
          .toDF("doc_id", "text"), store, "doc_id", "text", nBuckets = 8)
    }
    intercept[IllegalArgumentException] {
      Dedup.nearDupRemove(
        Seq((9L, "any text at all for the refusal probe here"))
          .toDF("doc_id", "text"), store, "doc_id", "text", nBuckets = 8)
    }
    // the declared modulus still admits
    assert(Dedup.nearDupFilterBatch(
      Seq((9L, "a genuinely novel subject matter probe with plenty of " +
        "distinct words to shingle")).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 32).count() === 1L)
  }

  test("legacy unstamped admission rows fail closed under windowing; " +
    "stampAdmitted is the explicit migration that makes them expirable") {
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog near the river bank"
    val store = tmpDir("ndlegacy")
    // commit a PRE-RETENTION key file: the doc's band keys with NO
    // adm_ts column (what rows written before the retention column
    // existed look like)
    val st = graft.functions.AdmissionManifestStore(store)
    st.initIfAbsent(spark, 64)
    st.appendTail(spark, Dedup.lshBands(Dedup.minhashSignatures(
        Dedup.docShingleHashes(Seq((0L, textA)).toDF("doc_id", "text"),
          "doc_id", "text", 3), 16), 16, 4)
      .withColumn("adm_kb",
        pmod(xxhash64(col("band"), col("band_key")), lit(64)).cast("int")),
      64)
    def probe(id: Long, since: Long): Set[Long] =
      Dedup.nearDupFilterBatch(Seq((id, textA)).toDF("doc_id", "text"),
          store, "doc_id", "text", admittedAt = 5000L,
          suppressSince = since)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // fail closed: a window that would exclude any finite stamp must
    // still treat the unknown-age keys as suppressing
    assert(probe(1L, since = 4000L) === Set.empty[Long],
      "legacy rows stopped suppressing under a window (fail-open)")
    // fail closed on expiry too: unknown-age rows are never auto-shed
    assert(Dedup.expireAdmitted(spark, store, 4000L) === 0L,
      "expiry deleted unknown-age legacy rows")
    // the explicit migration: stamp once, idempotent
    val stamped = Dedup.stampAdmitted(spark, store, 1000L)
    assert(stamped > 0L, "migration stamped no rows")
    assert(Dedup.stampAdmitted(spark, store, 1000L) === 0L,
      "stampAdmitted is not idempotent")
    // stamped rows now carry window semantics: hidden by the window...
    assert(probe(2L, since = 1500L) === Set(2L),
      "stamped legacy rows not governed by the window")
    // ...and physically expirable (doc 2's fresh keys stay)
    assert(Dedup.expireAdmitted(spark, store, 1500L) > 0L)
    assert(probe(3L, since = 0L).isEmpty,
      "doc 2's in-window keys were lost by expiry") // dup of 2 rejected
  }

  test("windowed admission refuses the wall-clock admittedAt default") {
    import spark.implicits._
    val store = tmpDir("ndwinrefuse")
    intercept[IllegalArgumentException] {
      Dedup.nearDupFilterBatch(
        Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
        store, "doc_id", "text", suppressSince = 1L)
    }
    intercept[IllegalArgumentException] {
      Dedup.nearDupFilterBatch(
        Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
        store, "doc_id", "text", expireBefore = 1L)
    }
    // unwindowed wall-clock default still works
    assert(Dedup.nearDupFilterBatch(
      Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      store, "doc_id", "text").count() === 1L)
  }

  test("streaming near-dup filter drops near (not just exact) duplicates") {
    import spark.implicits._
    val store = tmpDir("ndstore2")
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    Dedup.nearDupFilterBatch(
      Seq((0L, base)).toDF("doc_id", "text"), store, "doc_id", "text")
    // one token changed out of 13 → jaccard ≈ 0.78; with k=16/bands=4
    // this must collide on at least one band (deterministic md5 family
    // — verified once, stable forever)
    val near = Seq((1L, base.replace("lima", "mike"))).toDF("doc_id", "text")
    val s = Dedup.nearDupFilterBatch(near, store, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s === Set.empty[Long], s"near-dup admitted: $s")
  }

  test("crossDupPairs: bipartite jaccard pairs cross sides only, exact " +
    "scores, combined-df hot cut") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val left = Seq(
      (0L, base),
      (2L, base), // within-left exact dup of 0 — must NOT pair
      (4L, "completely different content about spark engines and shuffles here"))
      .toDF("doc_id", "text")
    val right = Seq(
      (1L, base.replace("lima", "mike")), // cross-side near-dup of 0 and 2
      (3L, "unrelated parquet pruning commentary with columnar readers today"))
      .toDF("doc_id", "text")
    val lsh = Dedup.docShingleHashes(left, "doc_id", "text", 3)
    val rsh = Dedup.docShingleHashes(right, "doc_id", "text", 3)
    val out = Dedup.crossDupPairs(lsh, rsh, 0.5).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (2L, 1L)), s"pairs $pairs")
    // 12 tokens → 10 3-shingles; the changed trailing token touches
    // exactly one window: inter 9, union 11, jaccard 9/11 → 0.818182
    out.foreach { r =>
      assert(r.getAs[Double]("jaccard") === 0.818182,
        s"jaccard ${r.getAs[Double]("jaccard")}")
      assert(r.getAs[Long]("inter") === 9L)
    }
    // combined-df cut: with budget 1 the shared base shingles (df 3
    // across both sides) are boilerplate — no surviving cross matches
    // durable bipartite index ≡ localCheckpoint path, capped and not
    val durable = Dedup.crossDupPairs(lsh, rsh, 0.5,
      indexPath = Some(tmpDir("crossdup-index")))
    val ckpt = Dedup.crossDupPairs(lsh, rsh, 0.5)
    assert(durable.except(ckpt).count() === 0 &&
      ckpt.except(durable).count() === 0,
      "durable cross-corpus index diverged from the checkpoint path")
    val durableCap = Dedup.crossDupPairs(lsh, rsh, 0.0, maxShingleDf = 1,
      indexPath = Some(tmpDir("crossdup-index-cap")))
    val ckptCap = Dedup.crossDupPairs(lsh, rsh, 0.0, maxShingleDf = 1)
    assert(durableCap.except(ckptCap).count() === 0 &&
      ckptCap.except(durableCap).count() === 0,
      "durable capped cross-corpus index diverged")
    assert(Dedup.crossDupPairs(lsh, rsh, 0.0, maxShingleDf = 1)
      .count() === 0L, "hot cut must use the combined document frequency")
  }

  test("simhash: identical docs share fingerprints, near-dups are close") {
    val fps = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) === fps(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fps(0L), fps(3L)) < 15,
      s"near-dup hamming ${hamming(fps(0L), fps(3L))}")
    assert(hamming(fps(0L), fps(4L)) > hamming(fps(0L), fps(3L)),
      "unrelated doc closer than near-dup")
  }

  /** Sequential union-find reference for the distributed algorithm. */
  private def ufComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** threshold 0 forces the distributed star-contraction loop;
    * MaxValue forces the driver union-find fast path.
    */
  private def ccMap(pairs: Seq[(Long, Long)],
                    threshold: Long): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"),
        driverThreshold = threshold).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components: merges chains, keeps singletons, min-labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 8L), (5L, 5L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      8L -> 8L, 9L -> 8L, 5L -> 5L)
    assert(ccMap(pairs, 0L) === want, "distributed path")
    assert(ccMap(pairs, Long.MaxValue) === want, "driver path")
  }

  test("connected components: 64-node path converges (not O(diameter))") {
    // a path is the worst case for naive label propagation (diameter
    // 63); star-contraction must finish within the 64-round guard
    // (O(log² n) ≈ a dozen rounds here). threshold 0 forces the
    // distributed loop — the property under test
    val got = ccMap((0L until 63L).map(i => (i, i + 1)), 0L)
    assert(got === (0L to 63L).map(_ -> 0L).toMap)
  }

  test("connected components match union-find on random graphs, both paths") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 30 + trial * 10
      val pairs = Seq.fill(n)(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val want = ufComponents(pairs)
      assert(ccMap(pairs, 0L) === want,
        s"distributed, trial $trial pairs=$pairs")
      assert(ccMap(pairs, Long.MaxValue) === want,
        s"driver, trial $trial pairs=$pairs")
    }
  }

  test("connected components drop NULL-sided edges identically on " +
      "both paths (no driver NPE, no silent null node)") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)),
      (Some(9L), None), (None, Some(9L)), (None, None),
      (Some(7L), Some(7L))).toDF("doc_a", "doc_b")
    def m(threshold: Long) =
      Dedup.connectedComponents(pairs, driverThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L)
    assert(m(Long.MaxValue) === want, "driver path")
    assert(m(0L) === want, "distributed path")
  }

  test("lshBands refuses band counts that break the signature split") {
    val sigs = Seq((1L, Seq(1L, 2L, 3L, 4L))).toDF("doc_id", "sig")
    intercept[IllegalArgumentException] { Dedup.lshBands(sigs, 4, 8) }
    intercept[IllegalArgumentException] { Dedup.lshBands(sigs, 4, 3) }
    intercept[IllegalArgumentException] { Dedup.lshBands(sigs, 4, 0) }
    assert(Dedup.lshBands(sigs, 4, 2).count() === 2L)
  }

  test("connected components: string-keyed pairs skip the fast-path " +
    "count job that only long-keyed graphs use") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(run: => Unit): Int = {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      jobs.set(0)
      run
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      jobs.get()
    }
    // the same graph under both key types; single-digit labels keep the
    // string order equal to the numeric one, so both runs take the
    // identical distributed rounds
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L))
    val strPairs = edges.map { case (a, b) => (s"n$a", s"n$b") }
      .toDF("doc_a", "doc_b")
    val longPairs = edges.toDF("doc_a", "doc_b")
    spark.sparkContext.addSparkListener(listener)
    try {
      val strJobs = jobsOf(Dedup.connectedComponents(strPairs).collect())
      // long keys pay the pair count that gates the driver fast path
      // even when the gate then sends them down the distributed path
      val longJobs = jobsOf(Dedup.connectedComponents(longPairs,
        driverThreshold = -1L).collect())
      assert(strJobs < longJobs,
        s"string-keyed run paid the fast-path count: $strJobs jobs vs " +
          s"$longJobs for the counted long-keyed run")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connected components: durable-checkpoint path ≡ localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc").toString
    val pairs = ((0L until 15L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 200L))).toDF("doc_a", "doc_b")
    // threshold 0 so both runs exercise the round loop's materialization
    val durable = Dedup.connectedComponents(pairs,
        checkpointDir = Some(dir), driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.connectedComponents(pairs, driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(durable === local)
    assert(durable(15L) === 0L && durable(102L) === 100L
      && durable(200L) === 200L)
  }

  test("substring spans: planted cross-doc run found, merged maximal") {
    // docs 10/11 share a verbatim 10-token run at different offsets;
    // doc 12 repeats a phrase WITHIN itself only; doc 13 is unrelated.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (10L, s"intro words here $shared closing words"),
      (11L, s"$shared completely different tail content follows now"),
      (12L, "solo phrase repeats solo phrase repeats solo phrase repeats solo phrase repeats"),
      (13L, "nothing in common with any other document at all whatsoever truly")
    ).toDF("doc_id", "text")
    val spans = Dedup.crossDocDupSpans(corpus, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 10 tokens shared, w=8 → 3 overlapping window starts merge into
    // ONE maximal 10-token span per doc; offsets differ per doc.
    assert(spans.toSet === Set((10L, 3L, 10L), (11L, 0L, 10L)))

    val frac = Dedup.dupSpanFraction(corpus, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(frac(10L) === ((15L, 10L, 10.0 / 15.0)))
    assert(frac(11L) === ((16L, 10L, 10.0 / 16.0)))
    // within-doc repetition is NOT a cross-doc span; zero-dup docs
    // still appear with fraction 0.0
    assert(frac(12L)._2 === 0L && frac(12L)._3 === 0.0)
    assert(frac(13L)._2 === 0L && frac(13L)._3 === 0.0)
  }

  test("substring spans: durable positional index ≡ localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-span-ix").toString
    val shared = "one two three four five six seven eight nine ten eleven"
    val corpus = Seq(
      (20L, s"prefix $shared"),
      (21L, s"$shared suffix tokens here")).toDF("doc_id", "text")
    def rows(ix: Option[String]) =
      Dedup.crossDocDupSpans(corpus, "doc_id", "text", 8, indexPath = ix)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(Some(s"$dir/ps")) === rows(None))
    assert(rows(None) === Set((20L, 1L, 11L), (21L, 0L, 11L)))
  }

  test("substring spans: docs shorter than one shingle never match") {
    val tiny = Seq((1L, "same short text"), (2L, "same short text"))
      .toDF("doc_id", "text")
    assert(Dedup.crossDocDupSpans(tiny, "doc_id", "text", 8).count() === 0)
    val fr = Dedup.dupSpanFraction(tiny, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(fr === Map(1L -> 0.0, 2L -> 0.0))
  }
}
