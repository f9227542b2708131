package graft

/** Explain-plan regression harness: the load-bearing physical-plan
  * properties hand-audited in PLANS.md, encoded as assertions so a
  * Spark upgrade or refactor can't silently de-optimize a headline
  * query. Asserts on the STATICALLY planned physical plan (the
  * `AdaptiveSparkPlan isFinalPlan=false` tree — deterministic, no
  * runtime stat dependence); broadcast decisions at this stage come
  * from parquet size stats, which is exactly the planning a 100 TB
  * run starts from before AQE refines it.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("one commit log: AtomicClaim.claim has exactly one caller in " +
    "src/main, GenerationLog") {
    // every versioned store commits through GenerationLog; a second
    // caller of the claim primitive is a second commit-log spelling
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val call = "AtomicClaim\\s*\\.\\s*claim\\b".r
    val callers = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        call.findAllIn(new String(java.nio.file.Files.readAllBytes(p),
          "UTF-8")).size)
      .filter(_._2 > 0).toSeq.sorted
    assert(callers === Seq("graft/operators/GenerationLog.scala" -> 1),
      s"AtomicClaim.claim callers outside GenerationLog: $callers")
  }

  test("one pruning path: manifests, blooms and key windows each have " +
    "exactly one call site in src/main") {
    // both ParquetUpsertSink layouts prune through selectFiles; a
    // second call site of these readers is a second pruning path
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
    val calls = Seq("readStats", "readBlooms", "mayHoldAnyKey").map { fn =>
      val call = s"FileSkipping\\s*\\.\\s*$fn\\(".r
      fn -> sources.map(call.findAllIn(_).size).sum
    }
    assert(calls.forall(_._2 == 1), s"FileSkipping call sites: $calls")
  }

  test("q5_region_revenue: all 5 joins broadcast, date + region pushed") {
    val p = plan("q5_region_revenue")
    assert(count(p, "BroadcastHashJoin") === 5,
      s"expected 5 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"shuffle join crept into the star join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date range not pushed to the orders scan:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"),
      s"region filter not pushed to the region scan:\n$p")
  }

  test("gold_hourly: one exchange after map-side partials, pruned scan") {
    val p = plan("gold_hourly")
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"windowed agg should shuffle exactly once:\n$p")
    assert(p.contains("partial_count"),
      s"no map-side partial aggregation before the exchange:\n$p")
    // events carries 6 columns; the query reads 5 — `props` must be
    // pruned out of the parquet scan
    assert(!p.contains("props"), s"column pruning lost `props`:\n$p")
  }

  test("topk_per_key_custom: bounded heaps, no sort, one exchange") {
    val p = plan("topk_per_key_custom")
    assert(p.contains("TopKPerKey"), s"custom operator not planned:\n$p")
    // map-side partial heaps BELOW the exchange: the shuffle carries
    // ≤ k rows per key per input partition, not every input row
    assert(count(p, "TopKPerKeyPartial") === 1,
      s"partial (map-side) top-k phase missing:\n$p")
    assert(!p.matches("(?s).*\\bSort \\[.*"),
      s"a Sort appeared beside the bounded-heap operator:\n$p")
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"per-key top-k should shuffle exactly once:\n$p")
  }

  test("events_funnel: the whole window chain reuses one user_id exchange") {
    val p = plan("events_funnel")
    // both stage-derivation windows and the per-user distinct run on
    // ONE user_id exchange; the only other shuffle is the final
    // |stages|-row count re-agg — nothing else may re-shuffle the facts
    assert(count(p, "Exchange hashpartitioning(user_id") === 1,
      s"funnel stages re-shuffled instead of reusing user_id partitioning:\n$p")
    assert(count(p, "Exchange hashpartitioning") === 2,
      s"unexpected extra exchange in the funnel chain:\n$p")
  }

  test("dedup_jaccard_pairs: shuffled-hash candidate join, no sort-merge") {
    val p = plan("dedup_jaccard_pairs")
    assert(p.contains("ShuffledHashJoin"),
      s"candidate self-join lost the shuffle_hash hint:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sort-merge join on a massively-duplicated key:\n$p")
    // the hot-shingle cap is detected EAGERLY (driver-collected INSET
    // pushed into each consumer's scan) — an anti-join here would mean
    // the guard regressed to re-planning the detection aggregate per
    // consumer (the measured r4→r5 drift)
    assert(!p.contains("LeftAnti"),
      s"hot-shingle cap regressed to a per-consumer anti-join:\n$p")
  }

  test("embed_crossdup_pairs: bipartite candidate join is an equi-join, " +
    "vectors gathered only for unique pairs") {
    val p = plan("embed_crossdup_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bipartite bucket join degenerated to a product:\n$p")
    // distinct-first: the pair dedup must sit below the vector gathers
    assert(p.contains("HashAggregate") || p.contains("Deduplicate"),
      s"candidate pairs not deduplicated before the gathers:\n$p")
  }

  test("docs_crossdup_pairs: bipartite join keeps the self-join's plan " +
    "discipline") {
    val p = plan("docs_crossdup_pairs")
    assert(p.contains("ShuffledHashJoin"),
      s"bipartite candidate join lost the shuffle_hash hint:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sort-merge join on a massively-duplicated key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bipartite join degenerated to a product:\n$p")
    assert(!p.contains("LeftAnti"),
      s"hot-shingle cap regressed to a per-consumer anti-join:\n$p")
  }

  test("embed_topk_ivf_indexed: assigned scan is partition-pruned") {
    val p = plan("embed_topk_ivf_indexed")
    assert(p.matches("(?s).*PartitionFilters: \\[cell#\\d+ IN.*"),
      s"no static IN/INSET partition filter on the assigned scan:\n$p")
  }

  test("dedup_substring_spans: count-based detection, no pair self-join") {
    val p = plan("dedup_substring_spans")
    // duplicated-window detection is a COUNT against a broadcast (or
    // AQE-shuffled) distinct-doc aggregate — a self-join here would
    // reintroduce the quadratic pair fan-out this op exists to avoid
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"substring dedup regressed to a pair join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"positions no longer join the broadcast dup-hash list:\n$p")
    // exactly one exchange of FULL (doc_id, pos) rows — the per-doc
    // window; the detection side's aggregates exchange only 8-byte
    // sh keys (payload-free, uncounted here)
    assert(count(p, "Exchange hashpartitioning(doc_id") === 1,
      s"extra full-row exchange beside the per-doc window:\n$p")
  }

  test("docs_curation_v2: one tokenize pass feeds ALL four legs") {
    import org.apache.spark.sql.functions.col
    // The survivor frame is audited pre-checkpoint (the query entry
    // checkpoints it, which hides the leg shapes): the scan-gate,
    // repetition, LM, AND dup-span legs must all read the
    // materialized token projection (ExistingRDD scans) — ZERO live
    // documents file scans, ZERO live tokenize calls. (r20: the
    // dup-span leg used to pay its own read+tokenize pass twice over;
    // the positional scan now carries the token count and feeds off
    // the staged projection like every other leg.)
    val docs = graft.sources.Tables.read(spark, sf, "documents")
    val toksDf = docs.withColumn("toks",
      graft.functions.Text.tokens(col("text"))).localCheckpoint(true)
    val p = SparkEntry.curationV2Survivors(docs, toksDf)
      .queryExecution.executedPlan.toString
    assert(count(p, "FileScan parquet") === 0,
      s"a leg re-reads the documents table instead of the staging:\n$p")
    assert(count(p, "tokens(text") === 0,
      s"a leg re-tokenizes instead of reading the staged tokens:\n$p")
    assert(count(p, "Scan ExistingRDD") >= 4,
      s"legs stopped reading the materialized token projection:\n$p")
  }

  test("docs_curation_v2: durable staging (above the size gate) " +
      "returns the identical survivor set") {
    // force the spill-to-store spelling (gate = 0 routes every staging
    // call through the parquet round-trip) and pin it against the
    // localCheckpoint path byte-for-byte — the cluster-grade durable
    // form must be a pure materialization-strategy swap
    def run(): Set[String] = SparkEntry.queries("docs_curation_v2")(spark, sf)
      .collect().map(_.toString).toSet
    val local = run()
    val stageRoot = tmpDir("cur2stage")
    spark.conf.set("graft.stage.durableBytes", "0")
    spark.conf.set("graft.stage.dir", stageRoot)
    try {
      val durable = run()
      assert(durable === local,
        "durable staging changed docs_curation_v2's result")
      val staged = new java.io.File(stageRoot).list()
      assert(staged != null && staged.exists(_.startsWith("cur2-toks")) &&
        staged.exists(_.startsWith("cur2-kept")),
        s"expected both projections staged under $stageRoot, " +
          s"got ${Option(staged).map(_.mkString(",")).getOrElse("nothing")}")
    } finally {
      spark.conf.unset("graft.stage.durableBytes")
      spark.conf.unset("graft.stage.dir")
    }
  }

  test("docs_decontaminate: corpus scanned once against a broadcast eval set") {
    val p = plan("docs_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingle set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus shuffled for the decontamination probe:\n$p")
  }

  test("docs_shard_assign: hashes scan-side, one exchange on shard") {
    val p = plan("docs_shard_assign")
    // shard + order_key are pure projections off the scan; the only
    // shuffle is the per-shard window partitioning — a second
    // exchange would mean the permutation stopped being scan-side
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"shard assignment should shuffle exactly once (per-shard window):\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a global sort crept into shard assignment:\n$p")
    // only doc_id is read — text/lang/source/n_chars pruned
    assert(p.matches("(?s).*ReadSchema: struct<doc_id:bigint>.*"),
      s"shard assignment reads more than doc_id:\n$p")
  }

  test("dedup_survivors_quality: members broadcast, corpus never shuffled") {
    val p = plan("dedup_survivors_quality")
    // the member/loser sets are pair-list-sized: both the scoring join
    // and the final anti-join must be broadcast — any shuffle join
    // here would mean the corpus-sized side started moving
    assert(p.contains("BroadcastHashJoin"),
      s"member set not broadcast into the scoring join:\n$p")
    assert(p.matches("(?s).*BroadcastHashJoin.*LeftAnti.*"),
      s"loser removal is not a broadcast anti-join:\n$p")
    assert(p.contains("TopKPerKey"),
      s"per-component best-doc ranking lost the bounded-heap plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"sort-merge join crept into survivor selection:\n$p")
  }

  test("embed_topk_sq8: vectors never shuffle; both ranks on bounded heaps") {
    val p = plan("embed_topk_sq8")
    // queries broadcast into the code scan; candidates broadcast back
    // into the corpus for the exact re-rank — any sort-merge join
    // would mean corpus-sized rows started moving
    assert(!p.contains("SortMergeJoin"),
      s"a corpus-sized side shuffled in the SQ8 pipeline:\n$p")
    assert(count(p, "TopKPerKeyPartial") === 2 &&
      count(p, "TopKPerKey") === 4,
      s"approx + exact ranking should both run two-phase bounded heaps:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query/candidate sides not broadcast:\n$p")
  }

  test("docs_pack_chunks: scan-side explode, one exchange for the window") {
    val p = plan("docs_pack_chunks")
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"chunking should reuse the single per-source offset exchange:\n$p")
    assert(p.contains("Generate explode"),
      s"chunk fan-out is no longer an explode:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a global sort crept into chunking:\n$p")
  }

  test("docs_pack_sharded: shard key scan-side, one exchange on the " +
    "composed spine, no global sort") {
    val p = plan("docs_pack_sharded")
    // the scale-shaped pack: ONE hash exchange on (source, shard) —
    // the shard key is a pure projection off the scan, and composing
    // it into the window spine must not add a second shuffle or any
    // range partitioning (a global sort is exactly what the shard
    // spine exists to avoid)
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"sharded packing should shuffle exactly once:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a global sort crept into sharded packing:\n$p")
    assert(p.matches("(?s).*hashpartitioning\\(source[^)]*, shard.*"),
      s"the window exchange is not on the composed (source, shard) spine:\n$p")
  }

  test("docs_sample_weighted: key scan-side, one exchange into the heaps") {
    val p = plan("docs_sample_weighted")
    assert(p.contains("TopKPerKey"),
      s"weighted sample lost the bounded-heap plan:\n$p")
    assert(count(p, "Exchange hashpartitioning") === 1,
      s"weighted sampling should shuffle exactly once (per stratum):\n$p")
    assert(!p.matches("(?s).*\\bSort \\[.*"),
      s"a Sort appeared beside the bounded-heap sample:\n$p")
  }

  test("embed_standardize: stats broadcast, exploded fact never shuffles") {
    val p = plan("embed_standardize")
    // the |dims|-row stats aggregate may exchange; the exploded
    // corpus stream must join it via broadcast, never re-shuffle
    assert(p.contains("BroadcastHashJoin"),
      s"per-dim stats not broadcast to the scorer:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"exploded corpus shuffled for the stats join:\n$p")
    assert(p.contains("partial_avg"),
      s"stats aggregate lost its map-side partials:\n$p")
  }

  test("docs_unigram_logprob: corpus scanned once under either model-join strategy") {
    import graft.functions.ModelJoin
    // broadcast regime (default threshold): model joins broadcast, the
    // corpus parquet is the plan's ONLY file scan (the materialized
    // model is an RDD scan, not a re-read)
    val pBcast = plan("docs_unigram_logprob")
    assert(pBcast.contains("BroadcastHashJoin"),
      s"small model table not broadcast:\n$pBcast")
    assert(count(pBcast, "FileScan") === 1,
      s"corpus scanned more than once in the broadcast regime:\n$pBcast")
    // forced shuffle regime (threshold 0 — the 100 TB model-size
    // case): the join re-plans to shuffle_hash on the exploded word
    // key, and the corpus is STILL scanned exactly once
    spark.conf.set(ModelJoin.broadcastMaxRowsKey, "0")
    try {
      val pShuf = plan("docs_unigram_logprob")
      assert(pShuf.contains("ShuffledHashJoin"),
        s"threshold 0 did not force shuffle_hash:\n$pShuf")
      assert(!pShuf.contains("SortMergeJoin"),
        s"model join fell back to sort-merge:\n$pShuf")
      assert(count(pShuf, "FileScan") === 1,
        s"corpus scanned more than once in the shuffle regime:\n$pShuf")
    } finally spark.conf.unset(ModelJoin.broadcastMaxRowsKey)
  }

  test("embed_topk_ivfpq: join-free gated ADC, bounded heaps, no sort-merge") {
    val p = plan("embed_topk_ivfpq")
    // the approx (encode + gated ADC) side is pure projection over the
    // corpus scan — the ONLY joins in the whole plan are the exact
    // re-rank's two broadcasts (candidate list, query vectors)
    assert(count(p, "BroadcastHashJoin") === 2,
      s"expected exactly the two re-rank broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a shuffle join crept into the ADC path:\n$p")
    // both rank stages on the bounded-heap plan, map-side partials
    assert(count(p, "TopKPerKeyPartial") === 2,
      s"expected partial heaps for ADC rerank + final top-k:\n$p")
    assert(!p.matches("(?s).*\\bSort \\[.*"),
      s"a Sort appeared beside the bounded-heap operators:\n$p")
    // the persisted codes table is cell-partitioned and the probe's
    // coarse filter reaches it as a PARTITION filter — the ADC scan
    // physically reads ~nProbe/nCells of the codes, not a full scan
    // with a null-gate
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*cell.*"),
      s"probed-cell filter did not partition-prune the codes scan:\n$p")
  }

  test("docs_bpe_token_counts: one corpus scan under either model regime") {
    import graft.functions.ModelJoin
    // encode = one tokenize scan of documents joined against the
    // persisted tokenizer state; exactly 2 FileScans (corpus + the
    // state parquet), model broadcast under the default threshold
    val pBcast = plan("docs_bpe_token_counts")
    assert(pBcast.contains("BroadcastHashJoin"),
      s"vocabulary state not broadcast:\n$pBcast")
    assert(count(pBcast, "FileScan") === 2,
      s"expected corpus + state scans only:\n$pBcast")
    // threshold 0 — the 100 TB-vocabulary regime: shuffle_hash on the
    // exploded word key, never sort-merge, still one corpus scan
    spark.conf.set(ModelJoin.broadcastMaxRowsKey, "0")
    try {
      val pShuf = plan("docs_bpe_token_counts")
      assert(pShuf.contains("ShuffledHashJoin") &&
        !pShuf.contains("SortMergeJoin"),
        s"threshold 0 did not force shuffle_hash:\n$pShuf")
      assert(count(pShuf, "FileScan") === 2,
        s"corpus re-scanned in the shuffle regime:\n$pShuf")
    } finally spark.conf.unset(ModelJoin.broadcastMaxRowsKey)
  }

  test("docs_dsir_weights: one corpus scan, local-relation model broadcast") {
    val p = plan("docs_dsir_weights")
    // the staged histogram is the ONLY corpus derivation (built once,
    // eagerly, inside stage()); every consumer reads it back — the
    // scoring plan must carry no parquet re-scan, and the model must
    // be a LocalTableScan (collected relation, no checkpoint block)
    assert(count(p, "FileScan") === 0 && p.contains("Scan ExistingRDD"),
      s"scoring plan re-derives the corpus instead of the staged hist:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LocalTableScan"),
      s"bounded bucket model not a broadcast local relation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"shuffle join crept into the bounded-model join:\n$p")
  }

  test("docs_dsir_resample: global top-k on TakeOrderedAndProject") {
    val p = plan("docs_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"),
      s"resample's LIMIT did not plan as bounded per-partition heaps:\n$p")
    assert(count(p, "FileScan") === 0 && p.contains("Scan ExistingRDD"),
      s"scoring plan re-derives the corpus instead of the staged hist:\n$p")
  }

  test("events_anomaly_zscore: fact side never shuffles") {
    val p = plan("events_anomaly_zscore")
    // the per-type stats aggregate shuffles its |event-types|-sized
    // relation; the fact-side scoring must join against a broadcast,
    // not re-shuffle the events table
    assert(p.contains("BroadcastHashJoin"),
      s"z-score stats not broadcast to the fact scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fact table shuffled for the stats join:\n$p")
  }

  test("embed_topic_mix: k-means assignment is scan-side — NO join anywhere") {
    val p = plan("embed_topic_mix")
    // the centroid state enters each assignment as a collected k-row
    // ARRAY LITERAL, so the plan is scan → projection (argmax over the
    // literal) → aggregate: the corpus neither joins nor shuffles for
    // the assignment — one avoidable full-data movement per Lloyd
    // iteration removed relative to the broadcast-join formulation
    assert(!p.contains("Join"), s"a join crept into k-means assignment:\n$p")
    // the topic aggregation partial-aggregates map-side
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side partials over the assignment:\n$p")
  }

  test("upsert_scan_prune: the scan enumerates a pruned file subset") {
    // plan text can't show file counts; assert the DECISION directly —
    // the z-ordered fixture must admit fewer files than the snapshot
    // holds for the query's two-column predicate (sf0.001: 500-doc
    // documents table, same fixture pipeline as the oracle query)
    import org.apache.spark.sql.functions._
    SparkEntry.queries("upsert_scan_prune")(spark, sf).count() // build fixture
    val sink = new graft.operators.ParquetUpsertSink(
      "/root/repo/fixtures/skip_scan", Seq("doc_id"))
    val (kept, total) = sink.scanFileCounts(spark,
      (col("doc_id") < 200L && col("n_chars").between(150L, 400L)) ||
        col("doc_id") === 450L)
    assert(total >= 4, s"fixture produced only $total files")
    assert(kept < total, s"no files pruned: kept $kept of $total")
  }

  test("upsert_join_prune: dim-side keys prune fact files before scheduling") {
    import org.apache.spark.sql.functions._
    SparkEntry.queries("upsert_join_prune")(spark, sf).count() // build fixture
    val sink = new graft.operators.ParquetUpsertSink(
      "/root/repo/fixtures/join_prune", Seq("o_orderkey"),
      bloomCols = Seq("o_custkey"))
    val snap = sink.history(spark).first().getLong(0)
    val keys: Array[Any] = graft.sources.Tables.read(spark, sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_nationkey") <= 2L)
      .select(col("c_custkey")).collect().map(_.get(0))
    assert(keys.nonEmpty, "dim filter selected no customers at this SF")
    val sel = sink.selectFiles(spark, Some(lit(true)), Some(snap),
      Some(("o_custkey", keys.toSeq))).get
    val (kept, total) = (sel.kept, sel.total)
    assert(total >= 16, s"fixture produced only $total files")
    // the custkey-clustered layout maps the selective key set to a
    // strict file subset — the DFP payoff the 100 TB star join needs;
    // each key can touch at most a couple of range-neighboring files
    assert(kept.size < total, s"no files pruned: kept ${kept.size} of $total")
    assert(kept.size <= 2 * keys.length,
      s"kept ${kept.size} files for ${keys.length} keys of $total")
  }

  test("scanForJoin past its key gate shuffle-hashes the semi-join, " +
    "never broadcasts the oversized build side") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    val sink = new graft.operators.ParquetUpsertSink(
      tmpDir("gate") + "/t", Seq("k"))
    sink.upsert(spark, spark.range(100).toDF("k")
      .withColumn("v", col("k") * 2), batchId = -1)
    val build = Seq(1L, 2L, 3L, 4L).toDF("ck")
    val p = sink.scanForJoin(spark, "k", build, maxKeys = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin") && !p.contains("BroadcastHashJoin"),
      s"a build side past maxKeys must shuffle-hash, never broadcast:\n$p")
  }

  test("admission decision: batch keys broadcast up to the model-join " +
    "row gate, shuffle-hashed past it") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.{Dedup, ModelJoin}
    // checkpointed like the production keys relation
    def keysOf(ids: Range) = Dedup.lshBands(Dedup.minhashSignatures(
        Dedup.docShingleHashes(ids.map(i => (i.toLong,
          s"doc $i alpha$i bravo$i charlie$i delta$i echo$i"))
          .toDF("doc_id", "text"), "doc_id", "text", 3), 16), 16, 4)
      .localCheckpoint(true)
    val store = keysOf(100 until 104).select(col("doc_id").as("s_id"),
      col("band").as("s_band"), col("band_key").as("s_band_key"))
    val small = keysOf(0 until 2) // 8 key rows
    val big = keysOf(0 until 8) // 32 key rows
    def decision(keys: org.apache.spark.sql.DataFrame): String =
      Dedup.decideDropIds(keys, Seq("band", "band_key"), Some(store),
        keys.count()).queryExecution.executedPlan.toString
    spark.conf.set(ModelJoin.broadcastMaxRowsKey, "16")
    try {
      val ps = decision(small)
      assert(count(ps, "BroadcastHashJoin") === 2 &&
        !ps.contains("ShuffledHashJoin"),
        s"keys within the gate must broadcast (store + self join):\n$ps")
      val pb = decision(big)
      assert(count(pb, "ShuffledHashJoin") === 2 &&
        !pb.contains("BroadcastHashJoin"),
        s"keys past the gate must shuffle-hash, never broadcast:\n$pb")
    } finally spark.conf.unset(ModelJoin.broadcastMaxRowsKey)
  }
}
