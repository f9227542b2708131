package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Hashing, IvfIndex, Multimodal, Similarity, Text}
import graft.operators.{Medallion, Upsert}
import graft.sources.RideGenerator

/** Driver contract: the complete named-query surface of the engine.
  *
  * Every batch-expressible operator from SURVEY.md §2 plus the
  * north-star extensions is exposed here as a `(spark, sfDir) =>
  * DataFrame` with a DuckDB oracle SQL mirror in [[oracleSql]]
  * (omitted only for ops SQL cannot express — those are covered by
  * ScalaTest instead and still listed for the rows-only check).
  *
  * The reference's single stream maps onto the testdata `events`
  * table (ts↔event_timestamp, user_id↔driver_id, event_type↔status,
  * value↔fare — see FIXTURES.md §B); `documents`/`embeddings` feed
  * the dedup / similarity / text operators; the TPC-H-ish tables
  * exercise the join/aggregation surface beyond the reference.
  */
object SparkEntry {

  /** Every external-table read goes through [[graft.sources.Tables]]:
    * event-time columns normalize across physical encodings
    * (TIMESTAMP(NANOS)/NTZ/TZ — the drift class that once killed every
    * consumer of one table at once), the other columns are validated
    * against their accepted type family, and anything unrecognized
    * fails loudly naming `table.column` and the offending type.
    */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.read(spark, dir, name)

  private[graft] def events(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")

  // ----------------------------------------------------------------
  // Shared building blocks (Spark side)
  // ----------------------------------------------------------------

  /** The gold-stage aggregation applied to the events stand-in:
    * tumbling 1-hour window × user with count / rounded avg /
    * conditional error count (SURVEY.md §2.5 A1–A4; 'error' plays the
    * is_suspicious role).
    */
  private def eventsGoldHourly(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(
        count(col("event_id")).as("total_events_hourly"),
        Hashing.portableRound(avg(col("value")), 2).as("avg_value_hourly"),
        sum(when(col("event_type") === "error", 1).otherwise(0))
          .as("total_error_events_hourly"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("user_id"),
        col("total_events_hourly"),
        col("avg_value_hourly"),
        col("total_error_events_hourly"))

  private def docsWithTokens(docs: DataFrame): DataFrame =
    docs.withColumn("toks", Text.tokens(col("text")))

  /** Multi-consumer staging for a projection N downstream legs read:
    * below the gate, `localCheckpoint` (executor blocks, zero file
    * IO — the right spelling when the projection is tens of MB).
    * Above it, the projection is WRITTEN to a staging parquet dir and
    * read back: localCheckpoint stores blocks on executors WITHOUT
    * lineage, so at 100 TB one lost executor fails the whole query
    * instead of recomputing — durable staging trades one extra write
    * pass (≈ the projection's size at store bandwidth, amortized over
    * every consumer leg) for executor-loss-tolerant re-reads. The
    * crossover is roughly where the projection stops fitting reliably
    * replicated in executor storage memory: default 4 GiB
    * (`graft.stage.durableBytes`; `graft.stage.dir` must point at a
    * SHARED store path on a real cluster). Staging dirs are
    * per-invocation UUIDs registered for deletion at JVM exit
    * (`FileSystem.deleteOnExit`) — they must outlive every downstream
    * consumer of the returned frame, and query end is not observable
    * from here; a crash that skips the exit hook leaves orphans an
    * operator TTLs like any scratch space.
    */
  private[graft] def staged(s: SparkSession, df: DataFrame,
                            approxBytes: Long, tag: String): DataFrame = {
    val gate = s.conf.getOption("graft.stage.durableBytes").map(_.toLong)
      .getOrElse(4L * 1024 * 1024 * 1024)
    if (approxBytes < gate) df.localCheckpoint(true)
    else {
      val dir = scratchDir(s, tag)
      df.write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
    }
  }

  /** Per-invocation durable scratch dir — delegates to [[Stage]], the
    * one spelling of the scratch-space lifecycle shared by [[staged]]'s
    * durable branch, write-once fixture artifacts like [[bpeFixture]],
    * and the BPE trainer's durable checkpoints. Crash orphans are
    * reclaimed by [[Stage.sweep]] at Verify/Bench startup.
    */
  private def scratchDir(s: SparkSession, tag: String): String =
    Stage.scratchDir(s, tag)

  /** Total bytes under a table's parquet dir — the cheap size proxy
    * [[staged]]'s gate reads (one namenode summary call, no scan).
    */
  private def dirBytes(s: SparkSession, dir: String): Long =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }.getOrElse(0L)

  /** Content key of a source table's parquet dir — what decides
    * whether a persisted fixture artifact is still valid: FNV-1a over
    * each file's (name, length, mtime) in NAME-SORTED order. Sorting
    * makes the key independent of listStatus enumeration order (not
    * guaranteed across filesystems), and the mixer separates the
    * fields into distinct bit positions (the previous `h*31 + len*31 +
    * mtime` fold conflated them).
    */
  private def contentKey(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    Hashing.fnv1a(
      fs.listStatus(p).sortBy(_.getPath.getName).iterator.flatMap { st =>
        st.getPath.getName.iterator.map(_.toLong) ++
          Iterator(st.getLen, st.getModificationTime)
      })
  }

  /** Content-keyed artifact dir UNDER THE SWEPT STAGE ROOT — stale
    * keys (regenerated testdata, version bumps) stop accumulating
    * unboundedly in tmpdir: [[Stage.sweep]] reclaims any generation
    * whose newest activity passes the TTL. The name ends in a dash +
    * 8 hex chars so it matches the sweep's scratch pattern (all 64 key
    * bits stay in the name, split across two hex segments), and every
    * REUSE refreshes liveness via [[Stage.heartbeat]] at the call
    * sites.
    */
  private def keyedArtifactDir(s: SparkSession, prefix: String,
                               key: Long): String =
    f"${Stage.root(s)}/$prefix%s-${key >>> 32}%08x-${key & 0xffffffffL}%08x"

  /** The persisted ANN index over `d`'s embeddings, built at most once
    * per (process, sf) — [[memoFixture]]: the index is read-only once
    * built, so repeat bench/verify calls measure the PROBE (the
    * steady-state cost; the build's scaling lives in ScaleProof). The
    * store path is keyed by source-data content (file sizes + mtimes)
    * and a code-version suffix, so regenerated testdata or a quantizer
    * change can never serve a stale index — and the memo additionally
    * saves the per-call content-key listing and existence probe.
    */
  private def ivfIndexFixture(s: SparkSession, d: String,
                              emb: DataFrame): IvfIndex = {
    val (idx, path) = memoFixture("ivf_index", d) {
      val p = keyedArtifactDir(s, "ivf-idx-v4",
        contentKey(s, s"$d/embeddings.parquet"))
      val idx = new IvfIndex(p, nCells = 16)
      if (!idx.exists(s)) idx.build(emb)
      (idx, p)
    }
    // liveness refresh on EVERY access, not just first resolution: a
    // read-only process outliving the sweep TTL writes nothing into
    // the artifact dir, so without this a concurrently STARTING
    // process's Stage.sweep could reclaim it mid-probe
    Stage.heartbeat(s, path)
    idx
  }

  /** Trained PQ codebook over `d`'s embeddings, one build per
    * (process, sf, parameters) — the write-once tokenizer/IvfIndex
    * pattern applied to ANN artifacts: repeat bench/verify calls
    * measure the ENCODE+ADC probe (the steady-state cost), and reuse
    * is bit-identical to retraining because the builder is the same
    * function ([[graft.functions.Similarity.pqTrainCodebook]]).
    */
  private def pqModelFixture(s: SparkSession, d: String, m: Int,
                             nCodes: Int, iters: Int)
      : graft.functions.Similarity.PqCodebook =
    memoFixture(s"pq_model_${m}_${nCodes}_$iters", d) {
      graft.functions.Similarity.pqTrainCodebook(
        t(s, d, "embeddings"), m, nCodes, iters)
    }

  /** The IVF coarse quantizer (assignments + centroids), materialized
    * once per (process, sf) for the IVF-PQ composition's reuse.
    */
  private def ivfQuantFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    memoFixture("ivf_quant16", d) {
      graft.functions.Similarity.ivfQuantizeCached(
        t(s, d, "embeddings"), nCells = 16)
    }

  /** Brute-force ground-truth top-5 for the 8 recall queries,
    * materialized once per (process, sf) — the recall tripwire then
    * measures each approximate path's probe+compare, not a fresh
    * brute-force scan per invocation.
    */
  private def recallExactFixture(s: SparkSession, d: String)
      : (DataFrame, Long) =
    memoFixture("recall_exact", d) {
      val emb = t(s, d, "embeddings")
      val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 5)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      (exact, exact.count())
    }

  /** Content-keyed persisted PQ codes table — [[pqModelFixture]]'s
    * other half (the encode): (cid, pq_codes, pq_norm[, cell]) written
    * once per (testdata content, parameters, code version), then every
    * query batch's ADC scans m small codes per vector instead of
    * re-encoding the float corpus. `withCell` adds the coarse cell for
    * the IVF-PQ composition's scan-side gate.
    */
  /** Deterministic low/high id split of the embeddings corpus — the
    * build-then-append feed for the codes-store fixtures: the
    * persisted table every PQ/SQ8 oracle row reads is PRODUCED BY the
    * incremental path (build on the low half, append the high half),
    * so "append ≡ full re-encode" parity is re-proven by the hash
    * gate every round, not just by a spec once. The low half contains
    * the globally-lowest ids, so frozen quantizer seeds (first-N-by-
    * id) drawn from the build slice equal the full corpus's.
    */
  private def embSplit(emb: DataFrame): (DataFrame, DataFrame) = {
    val r = emb.agg(min(col("vec_id")).cast("long"),
      max(col("vec_id")).cast("long")).head()
    val thr = (r.getLong(0) + r.getLong(1)) / 2
    (emb.filter(col("vec_id") <= thr), emb.filter(col("vec_id") > thr))
  }

  private def pqCodesFixture(s: SparkSession, d: String, m: Int,
                             nCodes: Int, iters: Int, withCell: Boolean)
      : DataFrame = {
    val (df, path) = memoFixture(s"pq_codes_${m}_${nCodes}_${iters}_$withCell", d) {
      val p = keyedArtifactDir(s,
        s"pq-codes-v3-${m}_${nCodes}_${iters}_$withCell",
        contentKey(s, s"$d/embeddings.parquet"))
      // cell-PARTITIONED generations: the IVF-PQ probe's coarse filter
      // prunes whole cell directories of every segment
      // (PartitionFilters), so a probe reads ~nProbe/nCells of the
      // codes — the IvfIndex segment story applied to the PQ artifact
      val store = new graft.functions.PqCodesStore(p, m, nCodes,
        iters, nCells = if (withCell) Some(16) else None)
      if (!store.exists(s)) {
        val (lo, hi) = embSplit(t(s, d, "embeddings"))
        store.build(lo, codebook = Some(pqModelFixture(s, d, m, nCodes, iters)))
        store.append(hi)
      }
      (store.codes(s), p)
    }
    Stage.heartbeat(s, path) // per-access liveness (see ivfIndexFixture)
    df
  }

  /** Content-keyed persisted SQ8 codes table — an [[graft.functions.
    * Sq8CodesStore]] generation fed by the same build-then-append
    * split: the probe scans 1-byte codes, the quantize-and-write is
    * paid once per (testdata content, code version), and corpus growth
    * appends a segment instead of re-encoding.
    */
  private def sq8CodesFixture(s: SparkSession, d: String): DataFrame = {
    val (df, path) = memoFixture("sq8_codes", d) {
      val p = keyedArtifactDir(s, "sq8-codes-v3",
        contentKey(s, s"$d/embeddings.parquet"))
      val store = new graft.functions.Sq8CodesStore(p)
      if (!store.exists(s)) {
        val (lo, hi) = embSplit(t(s, d, "embeddings"))
        store.build(lo)
        store.append(hi)
      }
      (store.codes(s), p)
    }
    Stage.heartbeat(s, path) // per-access liveness (see ivfIndexFixture)
    df
  }

  /** The removed-vector ids of the DELETION fixture chains (and of
    * their oracle mirrors' neighbor exclusion): deterministic, ~1/7 of
    * the corpus — large enough that tombstoning them MUST reshuffle
    * several queries' top-5.
    */
  private def removedIds(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))

  /** PQ codes table through a build+append+REMOVE generation chain —
    * the deletion-fixture analog of [[pqCodesFixture]]: the store the
    * `embed_topk_pq_removed` oracle row probes carries live
    * tombstones (NOT consolidated away), so the hash gate re-proves
    * every round that the anti-join deletion path ranks exactly as a
    * corpus that never held the removed vectors. A crashed
    * build-append-remove chain (store committed, tombstones not yet)
    * re-runs the whole deterministic chain.
    */
  private def pqCodesRemovedFixture(s: SparkSession, d: String)
      : DataFrame = {
    val (df, path) = memoFixture("pq_codes_removed", d) {
      val p = keyedArtifactDir(s, "pq-codes-rm-v1",
        contentKey(s, s"$d/embeddings.parquet"))
      val store = new graft.functions.PqCodesStore(p, 8, 16, 1)
      if (!store.exists(s) || store.tombstoneIds(s).isEmpty) {
        val emb = t(s, d, "embeddings")
        val (lo, hi) = embSplit(emb)
        store.build(lo, codebook = Some(pqModelFixture(s, d, 8, 16, 1)))
        store.append(hi)
        store.remove(removedIds(emb))
      }
      (store.codes(s), p)
    }
    Stage.heartbeat(s, path)
    df
  }

  /** SQ8 deletion fixture — same chain as [[pqCodesRemovedFixture]]
    * for the scalar-quantized artifact.
    */
  private def sq8CodesRemovedFixture(s: SparkSession, d: String)
      : DataFrame = {
    val (df, path) = memoFixture("sq8_codes_removed", d) {
      val p = keyedArtifactDir(s, "sq8-codes-rm-v1",
        contentKey(s, s"$d/embeddings.parquet"))
      val store = new graft.functions.Sq8CodesStore(p)
      if (!store.exists(s) || store.tombstoneIds(s).isEmpty) {
        val emb = t(s, d, "embeddings")
        val (lo, hi) = embSplit(emb)
        store.build(lo)
        store.append(hi)
        store.remove(removedIds(emb))
      }
      (store.codes(s), p)
    }
    Stage.heartbeat(s, path)
    df
  }

  /** The curation-v2 survivor set, lazy (callers checkpoint it):
    * scan-side quality gates ∧ Gopher repetition ∧ corpus-LM floor ∧
    * dup-span drop, composed by doc_id semi-joins. `toksDf` is the
    * materialized (docs ++ toks) projection every tokenize-consuming
    * leg reads — the single-tokenize-pass contract this query's plan
    * audit pins; package-private so the audit can inspect the lazy
    * plan (the query entry checkpoints it immediately, which hides
    * the leg shapes from the final executed plan).
    */
  private[graft] def curationV2Survivors(docs: DataFrame,
                                         toksDf: DataFrame): DataFrame = {
    val scanPass = toksDf
      .filter(size(col("toks")) >= 20 &&
        Text.punctRatio(col("text")) <= 0.1 &&
        Text.stopwordRatio(col("toks")) >= 0.05 &&
        Text.langId(col("toks")) === "en")
      .select(docs.columns.map(col): _*)
    // Gopher repetition behind an AGGREGATION BARRIER, not in the
    // scan filter: predicate pushdown substitutes filter columns
    // with their defining expressions, so a shingle-derived
    // predicate would re-inline tokenize(text) into the shingle
    // computation per consumer — the trap docShingles documents,
    // measured 14.7 s vs 0.4 s for this leg back when the shingle
    // builder was an interpreted HOF (it is now the fused native
    // ShingleHashesExpr, which shrinks but does not remove the
    // re-inlining cost). The agg blocks pushdown either way; the
    // checkpoint additionally pins `toks` as data, not expression.
    // (Docs with < 3 tokens have no shingles and drop here, but the
    // ≥ 20-token gate above already excludes them — conjunction
    // semantics identical to the oracle's len(grams)=0 OR arm.)
    val repOk = toksDf
      .select(col("doc_id"), explode(
        graft.plans.ShingleHashesExpr.shingle_hashes(col("toks"), 3))
        .as("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), countDistinct(col("g")).as("n_d"))
      .filter(lit(1.0) - col("n_d").cast("double")
        / col("n_sh").cast("double") <= 0.2)
      .select(col("doc_id"))
    val words = toksDf
      .select(col("doc_id"), explode(col("toks")).as("word"))
    val (freq, tnOpt) = graft.functions.ModelJoin.checkpointWithSum(
      words.groupBy(col("word")).agg(count(lit(1)).as("wn")), "wn")
    val tn = tnOpt.get.toDouble
    // freq grows with the corpus vocabulary — size-gated join
    // (broadcast small, shuffle_hash on the exploded word key large)
    val lmOk = graft.functions.ModelJoin.sizeGated(words, freq, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(Hashing.portableRound(
        avg(log(col("wn").cast("double") / lit(tn))), 6).as("alp"))
      .filter(col("alp") >= -3.41)
      .select(col("doc_id"))
    // the span leg reads the SAME tokenized staging as the other
    // legs: dupSpanFraction(docs, ...) would re-read and re-tokenize
    // the corpus (two more full scans at 100 TB — the single-tokenize
    // contract this plan pins extends to all four legs now)
    val spanOk = Dedup.dupSpanFractionFromTokens(
        toksDf.select(col("doc_id"), col("toks").as("tk")), 8)
      .filter(col("dup_fraction") <= 0.3)
      .select(col("doc_id"))
    scanPass
      .join(repOk, Seq("doc_id"), "left_semi")
      .join(lmOk, Seq("doc_id"), "left_semi")
      .join(spanOk, Seq("doc_id"), "left_semi")
  }

  // ----------------------------------------------------------------
  // Shared SQL snippets (DuckDB side) — kept textually tiny so each
  // oracle stays one self-contained statement.
  // ----------------------------------------------------------------

  /** DuckDB mirror of the gold-hourly aggregate over events. */
  private val goldHourlySql =
    """SELECT date_trunc('hour', ts) AS window_start,
      | date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      | user_id,
      | COUNT(event_id) AS total_events_hourly,
      | ROUND(AVG(value), 2) AS avg_value_hourly,
      | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS total_error_events_hourly
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** DuckDB mirror of [[Text.tokens]]. */
  private def toksSql(textExpr: String) =
    s"list_filter(string_split_regex($textExpr, '\\s+'), t -> t <> '')"

  /** DuckDB mirror of [[Hashing.hash60]]. */
  private def h60Sql(e: String) =
    s"('0x' || substring(md5($e), 1, 15))::BIGINT"

  /** Root of every on-disk query fixture (gitignored). */
  private val fixturesRoot = "/root/repo/fixtures"

  /** Parquet fixture the `rides_e2e` query writes its generated bronze
    * batch to (and reads back from), so the DuckDB oracle can mirror
    * the whole medallion pipeline over byte-identical input. Rewritten
    * on every run.
    */
  private val ridesBronzeFixture = s"$fixturesRoot/rides_bronze"

  /** One build per (process, sf-dir) for fixtures their queries only
    * READ. The first call in a JVM always rebuilds the on-disk store
    * from scratch — so a stale store from a previous run at another
    * SF can never leak in (the rebuild-per-call rationale, kept) —
    * and later calls (bench reps, sibling queries over the same
    * fixture) reuse it: fixture construction is setup cost, not query
    * cost. Keyed by sf-dir; a same-name entry for a DIFFERENT sf is
    * dropped because both point at the same fixed directory. A
    * fixture a query MUTATES may memoize only if the query leaves it
    * in a deterministic state every call (the restore ping-pong,
    * [[partRestoreFixture]]) — otherwise it builds its own directory
    * per call.
    */
  private val fixtureMemo =
    scala.collection.mutable.Map.empty[(String, String), Any]
  /** The trained BPE tokenizer over `d`'s documents (8 merges), built
    * at most once per (process, sf) — [[memoFixture]]: the tokenizer
    * is a write-once artifact like the ANN index, so repeat
    * bench/verify calls measure the MERGE-TABLE read and the ENCODE
    * scan (the steady-state costs), not re-training. The vocabulary
    * state persists to a per-build tmp parquet (session-free, unlike
    * a memoized localCheckpoint frame) registered for JVM-exit
    * deletion; the merge list is plain Scala data.
    */
  private def bpeFixture(s: SparkSession, d: String)
      : (Seq[(Long, String, String, String, Long)], String) =
    memoFixture("bpe_state", d) {
      val (merges, st) = graft.functions.Text.bpeTrain(
        t(s, d, "documents"), "text", 8)
      val dir = scratchDir(s, "bpe-state")
      st.write.mode("overwrite").parquet(dir)
      (merges, dir)
    }

  private def memoFixture[T](name: String, d: String)(build: => T): T =
    synchronized {
      fixtureMemo.get((name, d)) match {
        case Some(v) => v.asInstanceOf[T]
        case None =>
          fixtureMemo.keys.filter(_._1 == name).toList
            .foreach(fixtureMemo.remove)
          val v = build
          fixtureMemo((name, d)) = v
          v
      }
    }
  private def memoDrop(name: String): Unit =
    synchronized {
      fixtureMemo.keys.filter(_._1 == name).toList
        .foreach(fixtureMemo.remove)
    }

  /** Fixture-backed IVM pipeline shared by the `incr_agg_*` queries:
    * snapshot `documents(doc_id, source, n_chars)` into a fresh
    * versioned upsert table under `fixtures/`, apply one deterministic
    * feed window — `updWhere` rows get `n_chars += updDelta` (batch 1),
    * `delWhere` rows are retracted (batch 2) — and return the sink
    * plus the pre-feed version. Rebuilt from scratch on first use per (process, sf) — [[memoFixture]]: a
    * stale commit log from a previous run at a different SF would
    * otherwise trip the batch-replay guard and silently skip the
    * feed batches. retainVersions=4 keeps v0 readable for the feed.
    */
  private def ivmFixture(s: SparkSession, d: String, sub: String,
                         updWhere: Column, updDelta: Long, delWhere: Column)
      : (graft.operators.ParquetUpsertSink, Long) =
    memoFixture(s"ivm_$sub", d)(
      buildIvmFixture(s, d, sub, updWhere, updDelta, delWhere))

  private def buildIvmFixture(s: SparkSession, d: String, sub: String,
                              updWhere: Column, updDelta: Long,
                              delWhere: Column)
      : (graft.operators.ParquetUpsertSink, Long) = {
    val dir = s"$fixturesRoot/ivm_$sub"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val docs = t(s, d, "documents").select("doc_id", "source", "n_chars")
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("doc_id"),
      retainVersions = 4)
    sink.upsert(s, docs, batchId = 0)
    val v0 = sink.currentVersion(s)
    sink.upsert(s, docs.filter(updWhere)
      .withColumn("n_chars", (col("n_chars") + lit(updDelta))
        .cast(docs.schema("n_chars").dataType)), batchId = 1)
    sink.delete(s, delWhere, batchId = 2)
    (sink, v0)
  }

  /** Fixture for the `upsert_scan_prune` query: snapshot the narrow
    * documents projection into a versioned upsert table, then compact
    * it Z-ORDERED on (doc_id, n_chars) into ~8 files — each file a
    * hyper-rectangle of the (id, length) space, so the query's
    * stats-manifest scan prunes on BOTH columns. Built once per (process, sf) via [[memoFixture]]
    * (the scan only reads it).
    */
  private def skipScanFixture(s: SparkSession, d: String)
      : graft.operators.ParquetUpsertSink =
    memoFixture("skip_scan", d) {
    val dir = s"$fixturesRoot/skip_scan"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val docs = t(s, d, "documents").select("doc_id", "source", "lang", "n_chars")
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("doc_id"))
    sink.upsert(s, docs, batchId = -1)
    val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    sink.compact(s, targetFileBytes = math.max(1L, bytes / 8),
      clusterBy = Seq("doc_id", "n_chars"), zorder = true)
    sink
  }

  /** Fixture for the `upsert_scan_prune_part` query: the PARTITIONED
    * layout's skipping story — documents partitioned by lang
    * (fragmented by the write parallelism), then per-partition
    * Z-ORDER compaction on (doc_id, n_chars), so directory pruning on
    * the partition column composes with in-directory curve pruning on
    * BOTH data columns. Built once per (process, sf) via [[memoFixture]].
    */
  private def partSkipFixture(s: SparkSession, d: String)
      : graft.operators.ParquetUpsertSink =
    memoFixture("skip_scan_part", d) {
    val dir = s"$fixturesRoot/skip_scan_part"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fsys.delete(p, true)
    val docs = t(s, d, "documents")
      .select("doc_id", "source", "n_chars", "lang").repartition(8)
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("doc_id"),
      partitionCol = Some("lang"))
    sink.upsert(s, docs, batchId = 0)
    val bytes = fsys.getContentSummary(p).getLength
    sink.compact(s, targetFileBytes = math.max(1L, bytes / 24),
      clusterBy = Seq("doc_id", "n_chars"), zorder = true)
    sink
  }

  /** Fixture for the `upsert_point_prune` query: snapshot the narrow
    * documents projection into a versioned upsert table with a BLOOM
    * INDEX on doc_id, compacted clustered on n_chars ONLY — every
    * file's [min, max] on doc_id then spans ~the whole keyspace, so
    * the point predicate can prune files only through the blooms (the
    * Delta bloom-index shape: a gold point lookup on a key the table
    * is not clustered by). Rebuilt per call (same rationale as
    * [[ivmFixture]]).
    */
  private def bloomScanFixture(s: SparkSession, d: String)
      : graft.operators.ParquetUpsertSink =
    memoFixture("bloom_scan", d) {
    val dir = s"$fixturesRoot/bloom_scan"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val docs = t(s, d, "documents").select("doc_id", "source", "lang", "n_chars")
    // blooms enabled at OPTIMIZE time, not on the throwaway initial
    // snapshot — sinks are handles over the same commit log, so the
    // bloom-indexed handle compacts and serves the scans
    val loader = new graft.operators.ParquetUpsertSink(dir, Seq("doc_id"))
    loader.upsert(s, docs, batchId = -1)
    val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("doc_id"),
      bloomCols = Seq("doc_id"))
    sink.compact(s, targetFileBytes = math.max(1L, bytes / 8),
      clusterBy = Seq("n_chars"))
    sink
  }

  /** Fixture for the `upsert_point_prune_part` query: the PARTITIONED
    * analog of [[bloomScanFixture]] — documents partitioned by lang
    * with a bloom index on doc_id, per-partition compaction clustered
    * on n_chars ONLY, so within every directory each file's [min, max]
    * on doc_id spans ~the whole keyspace and the point predicate
    * prunes only through the per-file blooms, composing with directory
    * pruning on the partition column. (The reference's gold point
    * lookup, verify_gold_layer_data.py:20-22, runs against a
    * time-partitioned Delta table with exactly this shape.)
    */
  private def partBloomFixture(s: SparkSession, d: String)
      : graft.operators.ParquetUpsertSink =
    memoFixture("bloom_scan_part", d) {
    val dir = s"$fixturesRoot/bloom_scan_part"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fsys.delete(p, true)
    val docs = t(s, d, "documents")
      .select("doc_id", "source", "n_chars", "lang").repartition(8)
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("doc_id"),
      partitionCol = Some("lang"), bloomCols = Seq("doc_id"))
    sink.upsert(s, docs, batchId = 0)
    val bytes = fsys.getContentSummary(p).getLength
    sink.compact(s, targetFileBytes = math.max(1L, bytes / 24),
      clusterBy = Seq("n_chars"))
    sink
  }

  /** Fixture for the `part_history_*` queries: a lang-partitioned
    * documents store — the partitioned layout's log-structured history
    * protocol ([[graft.operators.PartitionedHistory]]) under an
    * oracle. Three deterministic commits: v0 the full snapshot, v1 an
    * update (+5 n_chars on the doc_id % 9 == 2 slice) plus an insert
    * (doc_id % 17 == 3 slice re-keyed +16 830 000 — a multiple of
    * 9·11·17, so every modular slice below is offset-invariant), v2 a
    * delete of the doc_id % 11 == 7 slice. Time travel, restore and
    * the delta-built change feed all recompute in ANSI SQL from those
    * three closed-form slices. Built once per (process, sf) via [[memoFixture]]; the restore query builds its own copy.
    */
  private def buildPartHistory(s: SparkSession, d: String, dir: String,
                               retainVersions: Int = 6)
      : graft.operators.ParquetUpsertSink = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val docs = t(s, d, "documents")
      .select("doc_id", "source", "lang", "n_chars")
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("doc_id"),
      partitionCol = Some("lang"), retainVersions = retainVersions)
    sink.upsert(s, docs, batchId = 0)
    val updates = docs.filter(col("doc_id") % 9 === 2)
      .withColumn("n_chars", col("n_chars") + 5)
    val inserts = docs.filter(col("doc_id") % 17 === 3)
      .withColumn("doc_id", col("doc_id") + 16830000L)
    sink.upsert(s, updates.unionByName(inserts), batchId = 1)
    sink.delete(s, col("doc_id") % 11 === 7, batchId = 2)
    sink
  }

  // travel + changefeed only READ the fixture, so one build per
  // (process, sf) serves both; restore MUTATES and uses its own copy
  // (separate dir, so it never poisons the shared one)
  private def partHistoryFixture(s: SparkSession, d: String)
      : graft.operators.ParquetUpsertSink =
    memoFixture("part_history", d)(
      buildPartHistory(s, d, s"$fixturesRoot/part_history"))

  /** Fixture for `part_history_restore`: built ONCE like the
    * read-only fixtures, but with a retention window wide enough that
    * versions 0 and 2 stay restorable across every bench/verify call
    * in a process — each call then pays exactly the operation the row
    * measures (a copy-back restore), not a 3-commit fixture rebuild.
    * The query's ping-pong (re-establish the post-delete head state,
    * then the measured restore to v0) keeps the mutation deterministic:
    * the final read is always v0's exact snapshot, whatever call count
    * preceded it.
    */
  private def partRestoreFixture(s: SparkSession, d: String)
      : graft.operators.ParquetUpsertSink = {
    def get = memoFixture("part_history_restore", d)(
      buildPartHistory(s, d, s"$fixturesRoot/part_history_restore",
        retainVersions = 64))
    val sink = get
    // retention headroom: each query call adds ≤2 restore commits, and
    // v0 must stay inside the 64-version window for the next restore —
    // a long-lived process (high rep counts, a REPL) rebuilds the
    // fixture before the window can close instead of failing at call
    // ~31
    if (sink.currentVersion(s) <= 48L) sink
    else { memoDrop("part_history_restore"); get }
  }

  /** Fixture for the `upsert_join_prune` query: snapshot the narrow
    * orders projection into a versioned upsert table CLUSTERED BY
    * o_custkey (tight per-file key ranges) with a bloom index on the
    * same key — the layout under which dynamic file pruning pays off:
    * a selective dim-side key set maps to O(matching) fact files via
    * the sorted-key window against per-file [min, max], bloom-refined.
    * Rebuilt per call (the scan only reads it).
    */
  private def joinPruneFixture(s: SparkSession, d: String)
      : graft.operators.ParquetUpsertSink =
    memoFixture("join_prune", d) {
    val dir = s"$fixturesRoot/join_prune"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val ords = t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    // blooms enabled at OPTIMIZE time (see [[bloomScanFixture]])
    val loader = new graft.operators.ParquetUpsertSink(dir, Seq("o_orderkey"))
    loader.upsert(s, ords, batchId = -1)
    val sink = new graft.operators.ParquetUpsertSink(dir, Seq("o_orderkey"),
      bloomCols = Seq("o_custkey"))
    val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    // ~32 files: enough granularity that a handful of dim keys maps to
    // a strict file subset at every driver SF
    sink.compact(s, targetFileBytes = math.max(1L, bytes / 32),
      clusterBy = Seq("o_custkey"))
    sink
  }

  /** DuckDB CTE chain replaying `Similarity.kmeans(embeddings, 8, 2)`
    * up to the final describing assignment `a3(cid, w)` where
    * `w = struct(s := rounded cosine, c := cell)` — every carried
    * centroid is ROUND(...,6)-quantized exactly as the Spark side, so
    * the three assignment rounds see bit-identical operands. Shared by
    * the topic-clustering oracles.
    */
  private val kmeansCtes =
    """seeds AS (
      |  SELECT vec_id AS cell, embedding AS seed
      |  FROM embeddings ORDER BY vec_id LIMIT 8),
      |a1 AS (
      |  SELECT c.vec_id AS cid,
      |   (max(struct_pack(s := ROUND(list_cosine_similarity(c.embedding::DOUBLE[], s.seed::DOUBLE[]), 6), c := s.cell))).c AS cell
      |  FROM embeddings c, seeds s GROUP BY c.vec_id),
      |exp AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |  unnest(embedding::DOUBLE[]) AS v FROM embeddings),
      |cd1 AS (SELECT a.cell, e.dim, ROUND(AVG(e.v), 6) AS cval
      |  FROM a1 a JOIN exp e ON e.vec_id = a.cid GROUP BY 1, 2),
      |c1 AS (SELECT cell, list(cval ORDER BY dim) AS seed FROM cd1 GROUP BY cell),
      |a2 AS (
      |  SELECT c.vec_id AS cid,
      |   (max(struct_pack(s := ROUND(list_cosine_similarity(c.embedding::DOUBLE[], s.seed), 6), c := s.cell))).c AS cell
      |  FROM embeddings c, c1 s GROUP BY c.vec_id),
      |cd2 AS (SELECT a.cell, e.dim, ROUND(AVG(e.v), 6) AS cval
      |  FROM a2 a JOIN exp e ON e.vec_id = a.cid GROUP BY 1, 2),
      |c2 AS (SELECT cell, list(cval ORDER BY dim) AS seed FROM cd2 GROUP BY cell),
      |a3 AS (
      |  SELECT c.vec_id AS cid,
      |   max(struct_pack(s := ROUND(list_cosine_similarity(c.embedding::DOUBLE[], s.seed), 6), c := s.cell)) AS w
      |  FROM embeddings c, c2 s GROUP BY c.vec_id)""".stripMargin

  /** Per-doc tokens CTE. */
  private val toksCte =
    s"toks AS (SELECT doc_id, ${toksSql("text")} AS tk FROM documents)"

  /** DuckDB mirror of [[graft.functions.Dsir]]'s shared core: hashed-
    * unigram bucket histograms, the Laplace-smoothed target/raw bucket
    * model (lang = 'en' as the target proxy), and the per-bucket
    * log-ratio — arithmetic spelled term-for-term like the Spark side
    * so only ln()'s last ulp differs (absorbed by the 6-dp rounding).
    */
  private def dsirCtes(nBuckets: Int): String =
    s"""WITH $toksCte,
       |wb AS (SELECT doc_id,
       |  ${h60Sql("word")} % $nBuckets AS bucket
       | FROM (SELECT doc_id, unnest(tk) AS word FROM toks)),
       |hist AS (SELECT doc_id, bucket, COUNT(*)::BIGINT AS cnt
       | FROM wb GROUP BY 1, 2),
       |model AS (SELECT bucket, SUM(cnt)::BIGINT AS raw_n,
       |  SUM(CASE WHEN d.lang = 'en' THEN cnt ELSE 0 END)::BIGINT AS tgt_n
       | FROM hist JOIN documents d USING (doc_id) GROUP BY bucket),
       |tot AS (SELECT SUM(raw_n)::BIGINT AS rt, SUM(tgt_n)::BIGINT AS tt
       | FROM model),
       |lrt AS (SELECT bucket,
       |  ln(((tgt_n + 1)::DOUBLE / (tt + $nBuckets)::DOUBLE)
       |   / ((raw_n + 1)::DOUBLE / (rt + $nBuckets)::DOUBLE)) AS lr
       | FROM model, tot)""".stripMargin

  /** DuckDB mirror of [[graft.functions.Text.bpeMerges]]: the CTE
    * chain replays every training round — weighted adjacent-pair
    * count over the vocabulary state, argmax by (cnt DESC, a, b)
    * LIMIT 1 (the same total order), then the greedy merge as island
    * algebra (consecutive candidate positions → odd ranks apply, the
    * following symbol drops). Generated per round, so the oracle is
    * the full iteration, not a one-step approximation.
    */
  private def bpeMergesOracleSql(nMerges: Int): String =
    bpeChainCtes(nMerges) + (1 to nMerges).map(i =>
      s"\nSELECT $i::BIGINT AS rank, a AS lhs, b AS rhs, a || b AS merged," +
        s" cnt AS pair_count FROM bpbest$i").mkString("", "\nUNION ALL", "")

  /** The per-doc BPE segmentation mirror: the same training chain,
    * then the final vocabulary state joins back to the tokenized
    * corpus for per-doc word/BPE-token counts.
    */
  private def bpeTokenCountsOracleSql(nMerges: Int): String =
    bpeChainCtes(nMerges) + s"""
      |SELECT w.doc_id, COUNT(*)::BIGINT AS n_words,
      | SUM(COALESCE(len(st.syms), length(w.word) + 1))::BIGINT
      |  AS n_bpe_tokens
      |FROM (SELECT doc_id, unnest(tk) AS word FROM toks) w
      |LEFT JOIN bpst$nMerges st USING (word)
      |GROUP BY w.doc_id""".stripMargin

  private def bpeChainCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH $toksCte,
      |bpw AS (SELECT unnest(tk) AS word FROM toks),
      |bpwc AS (SELECT word, COUNT(*)::BIGINT AS n FROM bpw GROUP BY word),
      |bpst0 AS MATERIALIZED (SELECT word, n,
      |  list_transform(range(1, length(word)+1), i -> word[i:i]) || ['</w>'] AS syms
      | FROM bpwc)""".stripMargin)
    for (i <- 1 to nMerges) {
      val p = i - 1
      sb.append(s""",
        |bppl$i AS MATERIALIZED (SELECT word, n, pos, sym,
        |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nx FROM (
        |  SELECT word, n, generate_subscripts(syms, 1) - 1 AS pos,
        |   unnest(syms) AS sym FROM bpst$p)),
        |bpbest$i AS MATERIALIZED (SELECT sym AS a, nx AS b, SUM(n)::BIGINT AS cnt
        | FROM bppl$i WHERE nx IS NOT NULL GROUP BY sym, nx
        | ORDER BY cnt DESC, a, b LIMIT 1),
        |bpapp$i AS MATERIALIZED (SELECT word, pos FROM (
        |  SELECT word, pos,
        |   row_number() OVER (PARTITION BY word, isl ORDER BY pos) AS rk
        |  FROM (SELECT c.word, c.pos,
        |    c.pos - row_number() OVER (PARTITION BY c.word ORDER BY c.pos) AS isl
        |   FROM bppl$i c, bpbest$i bb WHERE c.sym = bb.a AND c.nx = bb.b))
        | WHERE rk % 2 = 1),
        |bpst$i AS MATERIALIZED (SELECT p.word, p.n,
        |  list(CASE WHEN ap.pos IS NOT NULL THEN bb.a || bb.b ELSE p.sym END
        |    ORDER BY p.pos) AS syms
        | FROM bppl$i p CROSS JOIN bpbest$i bb
        | LEFT JOIN bpapp$i ap ON ap.word = p.word AND ap.pos = p.pos
        | LEFT JOIN bpapp$i ap2 ON ap2.word = p.word AND ap2.pos = p.pos - 1
        | WHERE ap2.pos IS NULL GROUP BY p.word, p.n
        | UNION ALL
        | SELECT word, n, syms FROM bpst$p
        |  WHERE NOT EXISTS (SELECT 1 FROM bpbest$i))""".stripMargin)
    }
    sb.toString
  }

  /** DuckDB mirror of [[Similarity.srpBucket]] for table `tb`
    * (`planes` sign bits, dims=64): explicit left-to-right projection
    * sum from the same [[Similarity.srpSign]] constants —
    * bit-identical sign bits.
    */
  private def srpBucketSql(tb: Int, planes: Int = 4): String =
    (0 until planes).map { p =>
      val proj = (0 until 64).map(dd =>
        s"embedding[${dd + 1}]::DOUBLE * ${Similarity.srpSign(tb, p, dd)}")
        .mkString(" + ")
      s"(CASE WHEN ($proj) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** `tables` SRP hash tables over embeddings as one relation. */
  private def srpBucketsCteOf(planes: Int, tables: Int): String =
    "buckets AS (" + (0 until tables).map(tb =>
      s"SELECT vec_id, $tb AS tbl, ${srpBucketSql(tb, planes)} AS bucket " +
        "FROM embeddings")
      .mkString(" UNION ALL ") + ")"

  /** The near-dup family's standard parameterization (planes=4,
    * tables=8).
    */
  private val srpBucketsCte = srpBucketsCteOf(4, 8)

  /** Shared DuckDB mirror for BOTH IVF physical paths (per-call and
    * persisted index): 16 seed cells (first vectors by id), one
    * assignment step (struct-max over the 6-dp ROUNDED cosine with
    * the cell id as tiebreak — lexicographic in both engines), per-dim
    * centroid means (AVG is summation-order-dependent across engines;
    * the rounding of every downstream comparison absorbs the ulp
    * noise), 4 probed cells per query by ROUNDED centroid cosine,
    * exact re-rank on the rounded score — step for step the ivfTopK
    * plan.
    */
  /** Seed cells + one assignment step — the coarse-quantizer mirror
    * shared by the IVF and SemDeDup oracles (identical to
    * [[Similarity.ivfQuantize]]'s assignment).
    */
  private val ivfAssignCte: String =
    """seeds AS (
      |  SELECT vec_id AS cell, embedding AS seed
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |assigned AS (
      |  SELECT c.vec_id AS cid,
      |   (max(struct_pack(s := ROUND(list_cosine_similarity(c.embedding::DOUBLE[], s.seed::DOUBLE[]), 6), c := s.cell))).c AS cell
      |  FROM embeddings c, seeds s GROUP BY c.vec_id)""".stripMargin

  /** Coarse centroid + probe-selection CTEs shared by the IVF mirror
    * and the IVF-PQ composition (`p` prefixes the centroid CTE names
    * so they can coexist with the PQ codebook's `cent`): per-cell
    * per-dim AVG centroids over `assigned`, then per-query probe
    * ranks by ROUNDED centroid cosine with the cell-id tiebreak —
    * ONE spelling, so a probe-rule fix reaches every composition.
    */
  private def ivfCentProbeCtes(p: String): String =
    s"""${p}exp AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |  unnest(embedding::DOUBLE[]) AS v FROM embeddings),
      |${p}centdims AS (
      |  SELECT a.cell, e.dim, AVG(e.v) AS cval
      |  FROM assigned a JOIN ${p}exp e ON e.vec_id = a.cid GROUP BY 1, 2),
      |${p}cent AS (SELECT cell, list(cval ORDER BY dim) AS centroid
      |  FROM ${p}centdims GROUP BY cell),
      |probes AS (
      |  SELECT q.vec_id AS query_id, c.cell,
      |   row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.centroid), 6) DESC,
      |     c.cell) AS prk
      |  FROM embeddings q, ${p}cent c WHERE q.vec_id < 8)""".stripMargin

  private val ivfOracleSql: String =
    s"""WITH $ivfAssignCte,
      |${ivfCentProbeCtes("")},
      |cand AS (
      |  SELECT p.query_id, a.cid AS neighbor_id
      |  FROM probes p JOIN assigned a ON a.cell = p.cell
      |  WHERE p.prk <= 4 AND a.cid <> p.query_id),
      |scored AS (SELECT query_id, neighbor_id,
      |  ROUND(list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]), 6) AS score
      | FROM cand
      | JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
      | JOIN embeddings qe ON qe.vec_id = cand.query_id)
      |SELECT query_id, rank, neighbor_id, score FROM (
      | SELECT query_id, neighbor_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |   ORDER BY score DESC, neighbor_id) AS rank
      | FROM scored) WHERE rank <= 5""".stripMargin

  /** Exact brute-force top-5 mirror — also the ground-truth CTE of
    * the recall oracle.
    */
  private val bfTopkOracleSql: String =
    """SELECT query_id, rank, neighbor_id FROM (
      | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
      |    c.vec_id) AS rank
      | FROM embeddings c, embeddings q
      | WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
      |WHERE rank <= 5""".stripMargin

  /** Full LSH ANN pipeline: bucket match in ANY of the 8 tables →
    * exact re-rank on the 6-dp-rounded cosine. Ranking on the ROUNDED
    * score (both engines) makes rank order robust to last-ulp cosine
    * differences between Spark's fold and list_cosine_similarity.
    */
  private val lshTopkOracleSql: String =
    s"""WITH $srpBucketsCte,
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       | FROM buckets c JOIN buckets q ON c.tbl = q.tbl AND c.bucket = q.bucket
       | WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
       |scored AS (SELECT query_id, neighbor_id,
       |  ROUND(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 6) AS score
       | FROM cand
       | JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
       | JOIN embeddings qe ON qe.vec_id = cand.query_id)
       |SELECT query_id, rank, neighbor_id, score FROM (
       | SELECT query_id, neighbor_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |   ORDER BY score DESC, neighbor_id) AS rank
       | FROM scored) WHERE rank <= 5""".stripMargin

  /** SQ8 mirror: same floor-half-up code formula, integer dot via
    * list_dot_product over the (exactly representable) code doubles,
    * fixed multiply order for the scale/norm factors, 6-dp rounding
    * before both rankings.
    */
  /** `neighborWhere` lets the deletion mirror exclude tombstoned ids
    * from the neighbor side (see `embed_topk_sq8_removed`).
    */
  private def sq8TopkOracleSqlWhere(neighborWhere: String): String =
    s"""WITH z AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS am
      | FROM embeddings),
      |zc AS (SELECT vec_id, v,
      |  CASE WHEN am = 0 THEN 1.0 ELSE am / 127.0 END AS s,
      |  sqrt(list_dot_product(v, v)) AS n FROM z),
      |codes AS (SELECT vec_id, v, s, n,
      |  list_transform(v, x -> floor(x / s + 0.5)) AS c FROM zc),
      |approx AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  ROUND(list_dot_product(q.c, c.c) * q.s * c.s / (q.n * c.n), 6)
      |    AS ascore
      | FROM codes q JOIN codes c
      |   ON q.vec_id < 8 AND c.vec_id <> q.vec_id$neighborWhere),
      |cand AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id
      |    ORDER BY ascore DESC, neighbor_id) AS arn
      |  FROM approx) WHERE arn <= 20),
      |scored AS (SELECT query_id, neighbor_id,
      |  ROUND(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 6) AS score
      | FROM cand
      | JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
      | JOIN embeddings qe ON qe.vec_id = cand.query_id)
      |SELECT query_id, rank, neighbor_id, score FROM (
      | SELECT query_id, neighbor_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |   ORDER BY score DESC, neighbor_id) AS rank
      | FROM scored) WHERE rank <= 5""".stripMargin

  private val sq8TopkOracleSql: String = sq8TopkOracleSqlWhere("")

  /** Product-quantization ADC mirror of [[Similarity.pqTopK]] (m=8,
    * nCodes=16, rerank=40): per-subspace seed assignment and encode
    * use the ivfAssignCte max-struct rule on 6-dp-rounded cosines;
    * the codebook is ROUND(AVG, 6) carried state (the kmeans
    * discipline — both engines then encode and build LUTs from
    * bit-identical centroids); the ADC terms are
    * FLOOR(dot·10⁶ + 0.5) BIGINTs, so the SUM over subspaces — the
    * recall-critical ranking — is exact integer arithmetic in both
    * engines (the SQ8 rule).
    */
  /** The PQ codebook/encode/LUT chain (no WITH, no terms): shared by
    * the flat-PQ mirror, the trained-codebook variant, and the IVF-PQ
    * composition below. Generated for (m, nCodes, iters): `cent0` is
    * the raw seed subvectors, each Lloyd round `t` assigns against
    * `cent{t-1}` (max-struct over the 6-dp-ROUNDED cosine, code-id
    * tiebreak) and re-averages ROUND(AVG, 6) — the carried-state
    * rounding that keeps every iteration bit-identical to Spark's —
    * and `cent`/`codes` are the final codebook and encode.
    */
  private def pqChainCtes(m: Int, nCodes: Int, iters: Int): String = {
    val sub = 64 / m
    val sb = new StringBuilder
    sb.append(
      s"""z AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ss AS (SELECT unnest(range($m)) AS s),
         |sub AS (SELECT z.vec_id, ss.s, z.v[ss.s*$sub+1 : ss.s*$sub+$sub] AS sv FROM z, ss),
         |seedv AS (SELECT vec_id, v FROM z ORDER BY vec_id LIMIT $nCodes),
         |seedc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
         | FROM seedv),
         |cent0 AS (SELECT ss.s, sc.code,
         |  sc.v[ss.s*$sub+1 : ss.s*$sub+$sub] AS centroid
         | FROM seedc sc, ss)""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s""",
           |a$t AS (SELECT c.vec_id, c.s,
           |  (max(struct_pack(s := ROUND(list_cosine_similarity(c.sv, ct.centroid), 6), c := ct.code))).c AS code
           | FROM sub c JOIN cent${t - 1} ct ON ct.s = c.s GROUP BY c.vec_id, c.s),
           |centd$t AS (SELECT a.s, a.code, generate_subscripts(c.sv, 1) AS dim,
           |  unnest(c.sv) AS x
           | FROM a$t a JOIN sub c ON c.vec_id = a.vec_id AND c.s = a.s),
           |centav$t AS (SELECT s, code, dim, ROUND(AVG(x), 6) AS cval
           | FROM centd$t GROUP BY s, code, dim),
           |cent$t AS (SELECT s, code, list(cval ORDER BY dim) AS centroid
           | FROM centav$t GROUP BY s, code)""".stripMargin)
    }
    sb.append(
      s""",
         |cent AS (SELECT * FROM cent$iters),
         |codes AS (SELECT c.vec_id, c.s,
         |  (max(struct_pack(s := ROUND(list_cosine_similarity(c.sv, ct.centroid), 6), c := ct.code))).c AS code
         | FROM sub c JOIN cent ct ON ct.s = c.s GROUP BY c.vec_id, c.s),
         |norms AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS n FROM z)"""
        .stripMargin)
    sb.toString
  }

  /** The ADC terms → rerank → exact-re-rank tail; `termsExtra` lets
    * the IVF-PQ mirror gate the terms to each query's probed cells,
    * `neighborWhere` the deletion mirror exclude tombstoned ids from
    * the neighbor side.
    */
  private def pqTailSql(termsExtra: String,
                        neighborWhere: String = ""): String =
    s""",
      |terms AS (SELECT q.vec_id AS query_id, cd.vec_id AS neighbor_id,
      |  CAST(FLOOR(list_dot_product(q.sv, ct.centroid) * 1000000.0 + 0.5) AS BIGINT) AS t
      | FROM codes cd JOIN cent ct ON ct.s = cd.s AND ct.code = cd.code
      | JOIN sub q ON q.s = cd.s$termsExtra
      | WHERE q.vec_id < 8 AND cd.vec_id <> q.vec_id$neighborWhere),
      |adc AS (SELECT query_id, neighbor_id, SUM(t)::BIGINT AS adci
      | FROM terms GROUP BY query_id, neighbor_id),
      |approx AS (SELECT query_id, neighbor_id,
      |  ROUND((adci::DOUBLE / 1000000.0) / (qn.n * cn.n), 6) AS ascore
      | FROM adc JOIN norms qn ON qn.vec_id = adc.query_id
      |  JOIN norms cn ON cn.vec_id = adc.neighbor_id),
      |cand AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id
      |    ORDER BY ascore DESC, neighbor_id) AS arn
      |  FROM approx) WHERE arn <= 40),
      |scored AS (SELECT query_id, neighbor_id,
      |  ROUND(list_cosine_similarity(ce.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 6) AS score
      | FROM cand
      | JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
      | JOIN embeddings qe ON qe.vec_id = cand.query_id)
      |SELECT query_id, rank, neighbor_id, score FROM (
      | SELECT query_id, neighbor_id, score,
      |  row_number() OVER (PARTITION BY query_id
      |   ORDER BY score DESC, neighbor_id) AS rank
      | FROM scored) WHERE rank <= 5""".stripMargin

  private val pqTopkOracleSql: String =
    "WITH " + pqChainCtes(8, 16, 1) + pqTailSql("")

  /** The trained-codebook PQ mirror: production-shaped parameters —
    * 256 codes per subspace, 2 Lloyd rounds — through the identical
    * generated chain (`iters` extra assignment/re-average CTE rounds).
    */
  private val pqTrainedOracleSql: String =
    "WITH " + pqChainCtes(8, 256, 2) + pqTailSql("")

  /** IVF-PQ mirror: the [[ivfAssignCte]] coarse quantizer + the
    * [[ivfOracleSql]] centroid/probe CTEs (renamed ccent* to avoid
    * clashing with the PQ codebook's `cent`), composed with the PQ
    * chain by gating the ADC terms on the neighbor's coarse cell
    * being one of the query's 4 probed cells — exactly the `when`
    * gate [[graft.functions.Similarity.ivfPqTopK]] applies inside
    * its fused scan.
    */
  private val ivfPqTopkOracleSql: String =
    s"""WITH $ivfAssignCte,
      |${ivfCentProbeCtes("c")},
      |""".stripMargin + pqChainCtes(8, 16, 1) + pqTailSql("""
      | JOIN assigned av ON av.cid = cd.vec_id
      | JOIN probes p ON p.query_id = q.vec_id AND p.cell = av.cell
      |  AND p.prk <= 4""".stripMargin)

  /** Recall@5 of each approximate ANN path against brute force — the
    * regression tripwire for silent recall drift (an index/bucketing
    * change that stays "plausible" but loses neighbors): every CTE is
    * the verbatim oracle of its own query, so the recall numbers are
    * exactly reproducible from the published mirrors.
    */
  private val recallAnnOracleSql: String =
    s"""WITH exact AS ($bfTopkOracleSql),
       |ivf AS ($ivfOracleSql),
       |lsh AS ($lshTopkOracleSql),
       |ivfpq AS ($ivfPqTopkOracleSql),
       |pq AS ($pqTopkOracleSql),
       |sq8 AS ($sq8TopkOracleSql),
       |hits AS (
       | SELECT 'ivf' AS method, count(*) AS hits
       |  FROM ivf JOIN exact USING (query_id, neighbor_id)
       | UNION ALL SELECT 'lsh', count(*)
       |  FROM lsh JOIN exact USING (query_id, neighbor_id)
       | UNION ALL SELECT 'ivfpq', count(*)
       |  FROM ivfpq JOIN exact USING (query_id, neighbor_id)
       | UNION ALL SELECT 'pq', count(*)
       |  FROM pq JOIN exact USING (query_id, neighbor_id)
       | UNION ALL SELECT 'sq8', count(*)
       |  FROM sq8 JOIN exact USING (query_id, neighbor_id)),
       |tot AS (SELECT count(*) AS total FROM exact)
       |SELECT method, hits, total,
       | ROUND(hits * 1.0 / total, 4) AS recall FROM hits, tot""".stripMargin

  /** Distinct hashed 3-gram shingles per doc (mirror of
    * [[Dedup.docShingleHashes]]).
    */
  private val shinglesCte =
    toksCte + s""",
      |sh0 AS (SELECT doc_id, unnest(list_transform(range(greatest(len(tk) - 2, 0)),
      |  i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS shingle FROM toks),
      |shd AS (SELECT DISTINCT doc_id, ${h60Sql("shingle")} AS sh FROM sh0)""".stripMargin

  /** Maximal cross-document duplicated token spans, w=8 (mirror of
    * [[Dedup.crossDocDupSpans]]): positional 8-gram hashes → shingles
    * in ≥2 distinct docs → gaps-and-islands interval merge per doc.
    * Spark's first-row LAG is NULL, so `CASE WHEN pos-LAG<=w` falls
    * to the ELSE 1 arm on both engines (identical 3VL).
    */
  private val dupSpansCte =
    toksCte + s""",
      |dsp AS (SELECT doc_id, unnest(range(1, len(tk) - 6)) AS i, tk FROM toks),
      |dsh AS (SELECT doc_id, i - 1 AS pos,
      | ${h60Sql("array_to_string(tk[i:i+7], ' ')")} AS sh FROM dsp),
      |ddup AS (SELECT sh FROM (SELECT DISTINCT sh, doc_id FROM dsh)
      | GROUP BY sh HAVING COUNT(*) >= 2),
      |dpos AS (SELECT doc_id, pos FROM dsh WHERE sh IN (SELECT sh FROM ddup)),
      |disl AS (SELECT doc_id, pos,
      | CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |  THEN 0 ELSE 1 END AS brk FROM dpos),
      |dgrp AS (SELECT doc_id, pos,
      | SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM disl),
      |dspans AS (SELECT doc_id, MIN(pos) AS span_start,
      | MAX(pos) - MIN(pos) + 8 AS span_tokens
      | FROM dgrp GROUP BY doc_id, grp)""".stripMargin

  /** Verified jaccard near-dup pairs (threshold 0.5, τ=32) — the edge
    * list the cluster queries build on.
    */
  private def neardupPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(
      Dedup.docShingleHashes(t(s, d, "documents"), "doc_id", "text", 3),
      0.5, maxShingleDf = 32)

  /** Oracle mirror of [[neardupPairs]] + [[Dedup.connectedComponents]]:
    * the same capped-shingle jaccard pair list, then components by
    * recursive transitive closure + MIN label (fine at oracle scale;
    * the Spark side runs O(log² n) star-contraction instead). Must be
    * prefixed with WITH RECURSIVE.
    */
  private val clustersCte =
    shinglesCte + s""",
      |cshc AS (SELECT doc_id, sh FROM shd WHERE sh NOT IN
      | (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) > 32)),
      |csizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM cshc GROUP BY doc_id),
      |cinter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS inter
      | FROM cshc l JOIN cshc r ON l.sh = r.sh AND l.doc_id < r.doc_id
      | GROUP BY 1, 2),
      |cpairs AS (SELECT doc_a, doc_b FROM cinter
      | JOIN csizes sa ON sa.doc_id = doc_a
      | JOIN csizes sb ON sb.doc_id = doc_b
      | WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE >= 0.5),
      |csym AS (SELECT doc_a AS n, doc_b AS r FROM cpairs
      | UNION SELECT doc_b, doc_a FROM cpairs
      | UNION SELECT doc_a, doc_a FROM cpairs
      | UNION SELECT doc_b, doc_b FROM cpairs),
      |reach AS (SELECT n, r FROM csym
      | UNION SELECT reach.n, csym.r FROM reach JOIN csym ON reach.r = csym.n),
      |cc AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n)""".stripMargin

  private val minhashK = 16
  private val minhashBands = 4

  /** 16 universal-hash permutation minima in one GROUP BY (mirror of
    * [[Dedup.minhashSignatures]]).
    */
  private val sigCte = {
    val p = Dedup.minhashP
    val mins = (0 until minhashK)
      .map(i => s"min((${Dedup.minhashA(i)} * (sh % $p) + ${Dedup.minhashB(i)}) % $p) AS mh$i")
      .mkString(", ")
    shinglesCte + s",\nsig AS (SELECT doc_id, $mins FROM shd GROUP BY doc_id)"
  }

  /** Band keys per doc (mirror of [[Dedup.lshBands]]): band b covers
    * signature slots [4b, 4b+4).
    */
  private val bandsCte = {
    val rows = minhashK / minhashBands
    val bandSelects = (0 until minhashBands).map { b =>
      val parts = (0 until rows).map(r => s"mh${b * rows + r}::VARCHAR")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS band_key FROM sig"
    }
    sigCte + s",\nbands AS (${bandSelects.mkString(" UNION ALL ")})"
  }

  // ----------------------------------------------------------------
  // Contract entry points
  // ----------------------------------------------------------------

  /** Flagship: hourly per-user gold aggregate on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    eventsGoldHourly(events(spark, "/root/testdata/sf0.001"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------- reference parity: projections / parsing ----------
    // P1/P2: CAST projection of the bronze landing step.
    "p1_bronze_cast" -> ((s, d) =>
      events(s, d).selectExpr(
        "CAST(event_id AS STRING) AS event_key",
        "props AS raw_json_data",
        "ts AS ingest_ts")),

    // P3/F1/P4: from_json against an explicit schema, drop malformed,
    // flatten the struct.
    "p3_json_parse" -> ((s, d) =>
      events(s, d)
        .withColumn("data",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType)))))
        .filter(col("data").isNotNull)
        .select(col("event_id"), col("data.k").as("k"))),

    // Map-typed JSON parse + map explode (key/value rows).
    "props_map_explode" -> ((s, d) =>
      events(s, d)
        .filter(col("props").isNotNull)
        .select(col("event_id"),
          explode(from_json(col("props"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType)))
            .as(Seq("key", "value")))),

    // P5/P7: timestamp→long arithmetic + boolean conjunction.
    "p5_derive" -> ((s, d) =>
      events(s, d).select(
        col("event_id"),
        (col("ts").cast("long") - date_trunc("day", col("ts")).cast("long"))
          .as("secs_into_day"),
        (col("value") > 300 &&
          (col("ts").cast("long") - date_trunc("day", col("ts")).cast("long")) < 43200)
          .as("is_flagged"))),

    // F2: the 7-term data-quality conjunction.
    "silver_clean_filter" -> ((s, d) =>
      events(s, d).filter(
        col("event_id").isNotNull && col("user_id").isNotNull &&
        col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull &&
        col("value") >= 0 && col("user_id") >= 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))),

    // ---------- reference parity: gold aggregate + verification ----------
    // A1–A4/T3/P9/P10: the tumbling-window gold aggregate.
    "gold_hourly" -> ((s, d) => eventsGoldHourly(events(s, d))),

    // O1: top-100 most recent windows (TakeOrderedAndProject).
    "verify_recent" -> ((s, d) =>
      eventsGoldHourly(events(s, d))
        .orderBy(col("window_end").desc, col("user_id"))
        .limit(100)),

    // F3: point lookup on the gold key (partition-prunable predicate).
    // The window/user band is data-derived: hour 11 of Jan 15 has
    // events with user_id >= 1 at sf0.001, sf0.01 AND sf0.1, so the
    // check is non-vacuous (spark_rows > 0) at every driver scale.
    "verify_point" -> ((s, d) =>
      eventsGoldHourly(events(s, d))
        .filter(col("window_start") === lit("2024-01-15 11:00:00").cast("timestamp")
          && col("user_id").between(1, 100000))),

    // A5: batch re-aggregation with COUNT(DISTINCT).
    "verify_reagg" -> ((s, d) =>
      eventsGoldHourly(events(s, d))
        .groupBy(col("window_start"))
        .agg(
          countDistinct(col("user_id")).as("active_users"),
          sum(col("total_events_hourly")).as("total_events"),
          sum(col("total_error_events_hourly")).as("total_errors"))),

    // A6: global count.
    "gold_count" -> ((s, d) =>
      eventsGoldHourly(events(s, d)).agg(count(lit(1)).as("n_rows"))),

    // J1: MERGE upsert as a batch full-outer merge — `updates`
    // (days ≥ 10) overwrite `base` (days < 20) on the gold key.
    // The updates side is MATERIALIZED before merging (what Delta's
    // MERGE does with its source): merge references it twice (key
    // broadcast + union), and without the checkpoint the whole
    // updates aggregation — scan, shuffle, window agg — runs twice.
    "gold_upsert_batch" -> ((s, d) => {
      val ev = events(s, d)
      val base = eventsGoldHourly(
        ev.filter(col("ts") < lit("2024-01-20 00:00:00").cast("timestamp")))
      val updates = eventsGoldHourly(
        ev.filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp")))
        .localCheckpoint(true)
      Upsert.merge(base, updates, Seq("window_start", "window_end", "user_id"))
    }),

    // T2 (batch analog): exact-key dedup via DISTINCT projection.
    "dedup_exact_distinct" -> ((s, d) =>
      events(s, d).select(col("user_id"), col("event_type")).distinct()),

    // S6→silver→gold end-to-end on generated ride events. The
    // generated bronze batch is persisted to a parquet fixture and
    // read back, so Spark and the DuckDB oracle consume byte-identical
    // input; the oracle mirrors the full parse → derive → clean →
    // dedup → flag → hourly-agg pipeline over the same fixture.
    // Dedup uses the deterministic tiebreak variant (dropDuplicates'
    // survivor is partition-order-dependent and not oracle-able).
    "rides_e2e" -> ((s, _) => {
      RideGenerator.events(s, 20000L, numPartitions = 8)
        // 8 partitions: right-sized for 20k rows — 32 would pay
        // ~4x task-scheduling overhead for no parallelism gain
        .write.mode("overwrite").parquet(ridesBronzeFixture)
      Medallion.goldAggregate(
        Medallion.silverStage(
          Medallion.bronzeProject(s.read.parquet(ridesBronzeFixture)),
          deterministicDedup = true))
    }),

    // ---------- relational surface at scale (TPC-H-ish) ----------
    "q1_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Hashing.portableRound(sum(col("l_quantity")), 2).as("sum_qty"),
          Hashing.portableRound(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          Hashing.portableRound(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          Hashing.portableRound(avg(col("l_quantity")), 4).as("avg_qty"),
          Hashing.portableRound(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // Q3-style: selective dim filter → broadcast join → top-k revenue.
    "q3_top_orders" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(broadcast(ord.join(broadcast(cust),
          col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(Hashing.portableRound(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Q5-style: 6-table star join, small dims broadcast.
    "q5_region_revenue" -> ((s, d) => {
      val region = t(s, d, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, d, "nation")
      val supplier = t(s, d, "supplier")
      val customer = t(s, d, "customer")
      val orders = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      val li = t(s, d, "lineitem")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Hashing.portableRound(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    // Co-located join over bucketed standing tables
    // (operators/Bucketed): both fact projections are persisted
    // bucketed on the join key — write-once per session
    // (ensureBucketed), so repetition (Bench's 4 passes) measures the
    // SHUFFLE-FREE join, which is the entire point of paying the
    // layout shuffle at write time. The zero-Exchange plan property
    // is asserted eagerly here (broadcast disabled for the probe, so
    // the small sf can't hide a shuffle regression behind a
    // BroadcastExchange) and pinned independently in BucketedSpec.
    "bucketed_join_priority" -> ((s, d) => {
      import graft.operators.Bucketed
      val sfx = java.lang.Integer.toHexString(d.hashCode) // pin table→source dir
      val ot = s"g_orders_bkt_$sfx"; val lt = s"g_lineitem_bkt_$sfx"
      Bucketed.ensureBucketed(t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        ot, "o_orderkey", 8)
      Bucketed.ensureBucketed(t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount")),
        lt, "o_orderkey", 8)
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        Bucketed.assertCoLocated(Bucketed.join(s, ot, lt, "o_orderkey"))
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Bucketed.join(s, ot, lt, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(Hashing.portableRound(
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    // Correlated scalar subquery (Catalyst decorrelates it into an
    // aggregate + join), via the spark.sql surface: orders priced at
    // more than 1.5x their customer's average.
    "above_avg_orders" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      // threshold rounded with the portable floor formula so both
      // engines compare against the identical double (raw float
      // aggregates differ in last-ulp summation order)
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders_v o
          |WHERE o_totalprice > (
          |  SELECT FLOOR(1.5 * AVG(o2.o_totalprice) * 100 + 0.5) / 100
          |  FROM orders_v o2
          |  WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    }),

    // Left-semi join (EXISTS).
    "semi_join_orders" -> ((s, d) => {
      val bigLines = t(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"))
      t(s, d, "orders")
        .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // Left-anti join (NOT EXISTS): orders with no lineitems.
    "anti_join_orders" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"))
      t(s, d, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // Left-outer join with null-coalesced aggregates: every order and
    // its item count/quantity (orders without items show 0).
    "left_outer_fill" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          Hashing.portableRound(sum(col("l_quantity")), 2).as("total_qty"))
      t(s, d, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .select(col("o_orderkey"),
          coalesce(col("n_items"), lit(0L)).as("n_items"),
          coalesce(col("total_qty"), lit(0.0)).as("total_qty"))
    }),

    // Full-outer join: customers × a filtered order subset, both-side
    // null surfacing.
    "full_outer_extremes" -> ((s, d) => {
      val bigOrders = t(s, d, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("k"),
          col("o_orderkey"), col("o_totalprice"))
      val richCust = t(s, d, "customer")
        .filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("k"), col("c_name"))
      richCust.join(bigOrders, Seq("k"), "full_outer")
        .select(col("k"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"))
    }),

    // Analytic window function: top-3 orders per customer.
    "window_topn_orders" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk").cast("long").as("rk"),
          col("o_orderkey"), col("o_totalprice"))
    }),

    // Event-time sessionization: native session_window (30-min gap).
    // Time-series gap-fill (dense resample): hourly event counts over
    // the FULL [min, max] hour range, empty hours materialized as 0 —
    // the dashboards/training-curve semantics a sparse groupBy cannot
    // give. The hour spine derives from a 1-row bounds aggregate
    // (sequence + explode — never a driver-side loop), and both join
    // sides are aggregate-sized, so the plan is broadcast-joined and
    // scale-independent of the event count.
    "events_gapfill_1h" -> ((s, d) => {
      val ev = events(s, d)
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"))
      val spine = ev
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(
          sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour"))
      spine.join(hourly, Seq("hour"), "left")
        .select(col("hour"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    }),

    "session_windows_30m" -> ((s, d) =>
      events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          Hashing.portableRound(sum(col("value")), 2).as("session_value"))
        .select(
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("user_id"), col("n_events"), col("session_value"))),

    // Cohort retention: users bucketed by first-activity date, counted
    // on each later active day offset. Both the cohort aggregate and
    // the distinct-activity set hash-partition on user_id for their
    // own aggregations, so the join between them adds NO exchange —
    // at this SF AQE broadcasts the smaller side; at cluster scale the
    // shuffle join reuses both existing partitionings. The only other
    // shuffle is the final (cohort, offset) aggregate — the
    // retention-matrix shape that survives 100× users.
    "events_retention" -> ((s, d) => {
      val ev = events(s, d)
      val cohorts = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_date"))
      val active = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      cohorts.join(active, "user_id")
        .select(col("cohort_date"),
          datediff(col("day"), col("cohort_date")).cast("long").as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_date"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Statistical anomaly flagging: per-type z-scores against the
    // type's own mean/stddev — the batch analog of the reference's
    // rule-based is_suspicious flag, with the threshold in standard
    // deviations instead of hand-picked constants. The stats table is
    // |event types| rows (broadcast); scores are 4-dp rounded BEFORE
    // the threshold so boundary membership is engine-portable.
    "events_anomaly_zscore" -> ((s, d) => {
      val ev = events(s, d)
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"),
          stddev_samp(col("value")).as("sd"))
      ev.join(broadcast(stats), "event_type")
        .filter(col("sd") > 0)
        .select(col("event_id"), col("event_type"), col("value"),
          Hashing.portableRound((col("value") - col("mu")) / col("sd"), 4)
            .as("zscore"))
        .filter(abs(col("zscore")) >= 1.5)
    }),

    // ROLLUP grouping sets (daily per-type + per-type + grand total).
    "rollup_daily" -> ((s, d) =>
      events(s, d)
        .rollup(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          Hashing.portableRound(sum(col("value")), 2).as("total_value"))),

    // CUBE over two document dimensions.
    "cube_docs" -> ((s, d) =>
      t(s, d, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))),

    // Set operations: (click ∪ view) ∩ purchase \ day-1 error users.
    // The EXCEPT leg is restricted to errors on 2024-01-01: the events
    // table is dense (every user eventually has every type), so
    // subtracting ALL error users returned the empty set at every SF —
    // a vacuous 0-row pass. The day-1 slice leaves survivors
    // (6 / 90 / 959 rows at sf0.001 / 0.01 / 0.1) so all three set
    // operators are exercised non-trivially.
    "set_ops_users" -> ((s, d) => {
      val ev = events(s, d)
      def users(tpe: String) =
        ev.filter(col("event_type") === tpe).select(col("user_id"))
      users("click").union(users("view")).distinct()
        .intersect(users("purchase"))
        .except(ev.filter(col("event_type") === "error" &&
            col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"))
          .select(col("user_id")))
    }),

    // Generator/UDTF surface: explode tokens → corpus word frequency.
    "word_freq" -> ((s, d) =>
      docsWithTokens(t(s, d, "documents"))
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))),

    // As-of join: latest order at or before each event's timestamp for
    // the same key — the distributed union+window formulation: tag both
    // sides, sort per key by (time, tag), carry the last non-null order
    // key forward. One shuffle on the join key, no per-row subquery.
    "asof_join_orders" -> ((s, d) => {
      val e = events(s, d).select(col("user_id").as("k"),
        col("ts").as("t"), col("event_id"),
        lit(null).cast("long").as("ok"), lit(1).as("tag"))
      val o = t(s, d, "orders").select(col("o_custkey").as("k"),
        col("o_orderdate").as("t"), lit(null).cast("long").as("event_id"),
        col("o_orderkey").as("ok"), lit(0).as("tag"))
      val w = Window.partitionBy(col("k"))
        .orderBy(col("t").asc, col("tag").asc, col("ok").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.unionByName(o)
        .withColumn("last_orderkey", last(col("ok"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("k").as("user_id"),
          col("last_orderkey"))
    }),

    // Banded range join: pairs of events of the same user within a
    // 5-minute window. The naive formulation is an inequality join
    // (quadratic); the scale-correct plan equi-joins on
    // (user, 5-min time band) — each right row probes its own band and
    // the previous one, so every qualifying pair matches EXACTLY one
    // band key — then applies the exact interval predicate.
    "range_join_pairs" -> ((s, d) => {
      val ev = events(s, d)
      val a = ev.select(col("user_id"), col("ts").as("t1"),
        (col("ts").cast("long") / 300).cast("long").as("band"))
      val b = ev.select(col("user_id"), col("ts").as("t2"),
        explode(array((col("ts").cast("long") / 300).cast("long") - 1,
          (col("ts").cast("long") / 300).cast("long"))).as("band"))
      a.join(b, Seq("user_id", "band"))
        .filter(col("t2") > col("t1") &&
          col("t2") <= col("t1") + expr("INTERVAL 5 MINUTES"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Pivot: per-user event-type counts as columns (A4 generalized
    // from one conditional sum to a full pivoted contingency table).
    "pivot_user_events" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "view", "signup", "purchase", "error"))
        .count()
        // fill ONLY the pivoted columns — a bare na.fill(0) would
        // also rewrite a null user_id grouping key to 0
        .na.fill(0L, Seq("click", "view", "signup", "purchase", "error"))),

    // Ordered conversion funnel view → click → purchase with a
    // 24-hour per-stage conversion window: each stage's first
    // qualifying timestamp must be at or after the previous stage's
    // and within 24 h of it (a click BEFORE the first view doesn't
    // convert; neither does one a week later). The window keeps every
    // stage populated at every driver SF — an unbounded funnel
    // saturates at stage 3. Three whole-partition window aggregates
    // over the SAME partitioning key, so Catalyst plans ONE exchange
    // on user_id and runs all three Window operators over it — the
    // sequenced-funnel shape that stays a single shuffle at 100 TB.
    "events_funnel" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
      val day = expr("INTERVAL 24 HOURS")
      events(s, d)
        .withColumn("v",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("c",
          min(when(col("event_type") === "click" && col("ts") >= col("v")
            && col("ts") <= col("v") + day, col("ts"))).over(w))
        .withColumn("p",
          min(when(col("event_type") === "purchase" && col("ts") >= col("c")
            && col("ts") <= col("c") + day, col("ts"))).over(w))
        .select(col("user_id"),
          when(col("p").isNotNull, 3L).when(col("c").isNotNull, 2L)
            .when(col("v").isNotNull, 1L).otherwise(0L).as("funnel_stage"))
        .distinct()
        .groupBy(col("funnel_stage"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // Exact interpolated percentiles per group.
    "value_percentiles" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(
          Hashing.portableRound(expr("percentile(value, 0.5)"), 4).as("p50"),
          Hashing.portableRound(expr("percentile(value, 0.9)"), 4).as("p90"),
          Hashing.portableRound(expr("percentile(value, 0.99)"), 4).as("p99"))),

    // Second-moment statistics (sample stddev/variance, correlation).
    "value_moments" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(
          Hashing.portableRound(stddev_samp(col("value")), 4).as("sd"),
          Hashing.portableRound(var_samp(col("value")), 4).as("variance"),
          Hashing.portableRound(
            corr(col("value"), col("user_id").cast("double")), 4)
            .as("corr_value_user"))),

    // Sketch aggregate: HLL approx distinct. The register layout is
    // engine-specific, so the ESTIMATE can never hash-match DuckDB —
    // but its error BOUND can: emit the exact side plus a
    // `within_bound` boolean (|est − exact| / exact ≤ 0.1, the same
    // bound ScalaTest asserts), and let the oracle mirror the exact
    // side with a literal TRUE. A hash match then certifies both the
    // exact arithmetic and that the sketch satisfied its contract —
    // a silent sketch regression flips the boolean and fails the row.
    "approx_distinct_users_sketch" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("est"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("est").cast("double") - col("exact_users").cast("double"))
            / col("exact_users").cast("double") <= 0.1).as("within_bound"))),

    // Deterministic spelling of the same estimate — distinct sampling
    // (Flajolet-style hash-domain sampling): count the distinct users
    // whose seeded 60-bit hash lands in 1/4 of the hash domain, scale
    // by 4. Exact integer arithmetic over a deterministic subset, so
    // DuckDB mirrors it hash-for-hash (unlike HLL, whose register
    // layout is engine-specific). Same plan shape as the sketch — the
    // sample predicate evaluates scan-side, one shuffle on event_type.
    "approx_distinct_users" -> ((s, d) =>
      events(s, d)
        .filter(pmod(Hashing.hash60(col("user_id").cast("string")),
          lit(4L)) === 0)
        .groupBy(col("event_type"))
        .agg((countDistinct(col("user_id")) * 4).as("approx_users"))),

    // Sketch percentiles: KLL-class approximation — same
    // bound-certification shape as the distinct sketch: the estimate
    // is engine-specific, its 5%-relative error bound is not.
    "approx_percentiles_sketch" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("est"),
          expr("percentile(value, 0.5)").as("p50x"))
        .select(col("event_type"),
          Hashing.portableRound(col("p50x"), 4).as("p50_exact"),
          (abs(col("est") - col("p50x")) <=
            abs(col("p50x")) * 0.05).as("within_bound"))),

    // Deterministic spelling: exact interpolated median over a 25%
    // seeded-hash row sample keyed on the unique event_id — the
    // sample-then-exact-quantile estimator. Reproducible at any
    // parallelism (pure hash predicate, no RNG state) and mirrorable
    // in DuckDB, closing the scoreboard row the sketch cannot.
    "approx_percentiles" -> ((s, d) =>
      events(s, d)
        .filter(pmod(Hashing.hash60(col("event_id").cast("string")),
          lit(4L)) === 0)
        .groupBy(col("event_type"))
        .agg(Hashing.portableRound(expr("percentile(value, 0.5)"), 4)
          .as("p50_approx"))),

    // Frequent-items sketch (Misra-Gries) — the third classic sketch
    // family next to approx-distinct and approx-percentile, and the
    // bounded-state answer to "top boilerplate tokens over 100 TB"
    // when the exact token-universe shuffle is the cost being avoided
    // (state is k counters per partition, merged map-side). Same
    // bound-certification shape as the other sketch rows: individual
    // estimates are partition-dependent, but the MG guarantees
    // (est <= exact, exact - est <= n/(k+1), and presence of every
    // token above n/(k+1)) hold for ANY merge tree — so the booleans
    // are deterministic and the oracle mirrors the exact side plus
    // literal TRUEs. k=30 sits just under the corpus vocabulary so
    // the sketch genuinely evicts (decrement rounds do happen) while
    // the top-10 exact counts stay above the n/(k+1) bound at every
    // test SF (sf0.01: 918 > 27165/31; sf0.1: 9100 > 270704/31).
    "approx_top_tokens_sketch" -> ((s, d) => {
      val tk = docsWithTokens(t(s, d, "documents"))
        .select(explode(col("toks")).as("token"))
      val est = tk
        .agg(graft.plans.MisraGriesAgg.misra_gries(col("token"), 30).as("sk"))
        .select(col("sk.total").as("n_total"),
          explode(col("sk.items")).as("it"))
        .select(col("n_total"), col("it.token").as("token"),
          col("it.est").as("est"))
      tk.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("token").asc)
        .limit(10)
        .join(broadcast(est), Seq("token"), "left")
        .select(col("token"), col("exact_cnt"),
          col("est").isNotNull.as("present"),
          (col("est").isNotNull && col("est") <= col("exact_cnt") &&
            (col("exact_cnt") - col("est")) * lit(31L) <= col("n_total"))
            .as("within_bound"))
    }),

    // Deterministic twin: exact token counts over a 25% seeded-hash
    // DOCUMENT sample, scaled by 4 — the sample predicate evaluates
    // scan-side before tokenization so 75% of the corpus is never
    // tokenized; reproducible at any parallelism and mirrored
    // hash-for-hash by DuckDB (total order: count desc, token asc).
    "approx_top_tokens" -> ((s, d) =>
      docsWithTokens(t(s, d, "documents")
        .filter(pmod(Hashing.hash60(col("doc_id").cast("string")),
          lit(4L)) === 0))
        .select(explode(col("toks")).as("token"))
        .groupBy(col("token"))
        .agg((count(lit(1)) * 4).as("approx_occurrences"))
        .orderBy(col("approx_occurrences").desc, col("token").asc)
        .limit(10)),

    // ---------- north star: incremental view maintenance ----------
    // The IVM operator surfaced as oracle rows: snapshot `documents`
    // into the versioned upsert table, build the per-source COUNT/SUM
    // view at v0, apply a deterministic update+delete window, then
    // ADVANCE the view from the pre-image change feed alone — the
    // O(delta + view) refresh that replaces an O(table) recompute at
    // 100 TB. The oracle recomputes the same aggregate over the
    // post-feed base in DuckDB (update and delete expressed as
    // CASE/WHERE over `documents`), so a hash match proves the
    // advance ≡ recompute contract end to end through the sink,
    // the CDC feed, and the delta join.
    "incr_agg_sums" -> ((s, d) => {
      val (sink, v0) = ivmFixture(s, d, "sums",
        updWhere = pmod(col("doc_id"), lit(10L)) === 3, updDelta = 7L,
        delWhere = pmod(col("doc_id"), lit(10L)) === 4)
      val view0 = graft.operators.IncrementalAgg.view(
        sink.readVersion(s, v0), Seq("source"), Seq("n_chars"))
      val feed = sink.changeFeed(s, v0, sink.currentVersion(s),
        withPreimages = true)
      graft.operators.IncrementalAgg
        .advance(view0, feed, Seq("source"), Seq("n_chars"))
        .select(col("source"),
          col(graft.operators.IncrementalAgg.countCol).as("n_docs"),
          col("sum_n_chars").as("sum_chars"))
    }),

    // MIN/MAX maintenance with base-assisted repair: the update and
    // delete windows are chosen so retractions DO tie stored extrema
    // at the driver SFs (every 7th doc's pre-image retracts, every
    // 13th doc leaves), exercising the damaged-key semi-join repair
    // path, not just the insert-fold fast path.
    "incr_agg_minmax" -> ((s, d) => {
      val (sink, v0) = ivmFixture(s, d, "minmax",
        updWhere = pmod(col("doc_id"), lit(7L)) === 0, updDelta = 11L,
        delWhere = pmod(col("doc_id"), lit(13L)) === 5)
      val view0 = graft.operators.IncrementalAgg.minMaxView(
        sink.readVersion(s, v0), Seq("source"), Seq("n_chars"))
      val feed = sink.changeFeed(s, v0, sink.currentVersion(s),
        withPreimages = true)
      graft.operators.IncrementalAgg
        .advanceMinMax(view0, feed, sink.read(s),
          Seq("source"), Seq("n_chars"))
        .select(col("source"),
          col(graft.operators.IncrementalAgg.countCol).as("n_docs"),
          col("min_n_chars").as("min_chars"),
          col("max_n_chars").as("max_chars"))
    }),

    // COUNT(DISTINCT) maintenance through the (key, value) →
    // multiplicity side table: the update window SHIFTS n_chars values
    // (pre-image retracts the old value, post-image admits the new —
    // both multiplicity moves), the delete window retracts witnesses
    // outright, and the read-off equals a DuckDB COUNT(DISTINCT)
    // recompute over the post-feed base — the reference's re-agg
    // verification shape (verify_gold_layer_data.py:37-41) kept
    // incremental.
    "incr_agg_distinct" -> ((s, d) => {
      val (sink, v0) = ivmFixture(s, d, "distinct",
        updWhere = pmod(col("doc_id"), lit(9L)) === 2, updDelta = 5L,
        delWhere = pmod(col("doc_id"), lit(11L)) === 7)
      val state0 = graft.operators.IncrementalAgg.distinctState(
        sink.readVersion(s, v0), Seq("source"), "n_chars")
      val feed = sink.changeFeed(s, v0, sink.currentVersion(s),
        withPreimages = true)
      val state1 = graft.operators.IncrementalAgg
        .advanceDistinct(state0, feed, Seq("source"), "n_chars")
      graft.operators.IncrementalAgg
        .readDistinct(state1, Seq("source"), "n_chars")
        .select(col("source"), col("distinct_n_chars").as("n_distinct"))
    }),

    // ---------- north star: corpus topic clustering ----------
    // Engine-portable Lloyd's k-means over the embeddings (2
    // iterations, 6-dp-rounded carried centroids — the rounding is
    // what lets DuckDB iterate over bit-identical state), aggregated
    // into the data-mixing view: per-topic size, cohesion (mean
    // rounded cosine to the final centroid), and the uniform-rebalance
    // sampling weight over the PRESENT topics (the docs_mix_weights
    // policy, applied to semantic clusters instead of language).
    "embed_topic_mix" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val (assigned, _) = graft.functions.Similarity.kmeans(emb, 8, 2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      assigned.groupBy(col("cell").as("topic"))
        .agg(count(lit(1)).as("n_vecs"),
          Hashing.portableRound(avg(col("sim")), 6).as("cohesion"))
        .withColumn("weight", Hashing.portableRound(
          sum(col("n_vecs")).over(w) /
            (count(lit(1)).over(w) * col("n_vecs")), 6))
    }),

    // Topic-BALANCED corpus sampling: the k-means topics joined 1:1
    // to documents (vec_id = doc_id), then Efraimidis-Spirakis
    // quality-weighted sampling without replacement per TOPIC on the
    // bounded-heap TopKPerKey plan — "balance the training mix by
    // semantic cluster, keep the best draws within each" (the
    // docs_sample_weighted estimator re-keyed from language to
    // semantic topic).
    "docs_topic_sample" -> ((s, d) => {
      val (assigned, _) = graft.functions.Similarity.kmeans(
        t(s, d, "embeddings"), 8, 2)
      val topics = assigned.select(col("cid").as("doc_id"),
        col("cell").as("topic"))
      val u = (Hashing.hash60(col("doc_id").cast("string")) + lit(1L))
        .cast("double") / 1152921504606846976.0
      val scored = docsWithTokens(t(s, d, "documents"))
        .select(col("doc_id"),
          Text.qualityScore(col("text"), col("toks")).as("w"))
        .filter(col("w") > 0.0)
        .select(col("doc_id"),
          Hashing.portableRound(log(u) / col("w"), 6).as("skey"))
        .join(topics, "doc_id")
      graft.plans.TopKPerKey(scored, keys = Seq("topic"),
        order = Seq(graft.plans.TopKPerKey.desc("skey"),
          graft.plans.TopKPerKey.asc("doc_id")), k = 3)
        .select(col("topic"), col("rank").cast("long").as("rk"),
          col("doc_id"), col("skey"))
    }),

    // ---------- north star: file-level data skipping ----------
    // The stats-manifest scan end to end through the oracle: snapshot
    // documents into the versioned store, Z-ORDER-compact on
    // (doc_id, n_chars), then read through `scan`, whose file pruning
    // consults the per-file min/max manifest for BOTH clustered
    // columns (plus the point-lookup disjunct). The oracle recomputes
    // the predicate over the base table — a hash match proves the
    // pruner never drops a file holding a matching row, on a layout
    // specifically built to make over-pruning visible.
    "upsert_scan_prune" -> ((s, d) => {
      val sink = skipScanFixture(s, d)
      sink.scan(s,
        (col("doc_id") < 200L && col("n_chars").between(150L, 400L)) ||
          col("doc_id") === 450L)
    }),

    // Partitioned-layout skipping end to end: directory pruning on
    // the partition column + per-directory z-curve pruning on BOTH
    // data columns (the partitioned `compact` clusterBy/zorder path).
    // The oracle recomputes the predicate over the base table — a
    // hash match proves neither pruning axis drops a matching row.
    "upsert_scan_prune_part" -> ((s, d) => {
      val sink = partSkipFixture(s, d)
      sink.scan(s, col("lang") === "en" &&
        (col("doc_id") < 300L || col("n_chars") > 450L))
    }),

    // Bloom-index point lookup end to end through the oracle: the
    // fixture clusters on n_chars, so every file's doc_id range spans
    // the keyspace and min/max stats CANNOT prune the point predicate
    // — only the per-file blooms can (FileSkippingSpec asserts they
    // do; the law in EngineProperties covers random predicates). The
    // oracle recomputes over the base table: a hash match proves a
    // bloom never rejects a file holding a probed value.
    "upsert_point_prune" -> ((s, d) => {
      val sink = bloomScanFixture(s, d)
      sink.scan(s,
        col("doc_id") === 450L || col("doc_id").isin(123L, 99999999L))
    }),

    // Bloom point lookup on the PARTITIONED layout: the fixture
    // clusters each directory on n_chars, so in-dir min/max on doc_id
    // cannot prune — only the per-directory blooms can, and the
    // lang-guarded branch composes them with directory pruning
    // (FileSkippingSpec pins both axes). Oracle recomputes over the
    // base table — a hash match proves no bloom rejects a holder.
    "upsert_point_prune_part" -> ((s, d) => {
      val sink = partBloomFixture(s, d)
      sink.scan(s, col("doc_id").isin(450L, 123L, 99999999L) ||
        (col("lang") === "en" && col("doc_id") === 777L))
    }),

    // Partitioned time travel through the history protocol: read the
    // table AS OF v1 (update+insert applied, delete not yet) by
    // backward replay of the delete commit's actions — frozen files
    // under _history re-enter the plan. Oracle recomputes v1's state
    // from the base table's closed-form slices.
    "part_history_travel" -> ((s, d) => {
      val sink = partHistoryFixture(s, d)
      sink.readVersion(s, 1L)
    }),

    // Partitioned RESTORE: roll the store back to v0 through a locked
    // history commit (freeze + distributed copy-back of frozen
    // originals), then read. Oracle is the untouched base projection —
    // a hash match proves the roundtrip is exact to the row. Repeat
    // calls ping-pong: first re-establish the post-delete head state
    // (itself a restore), then run the measured copy-back to v0 — so
    // the bench row times restores, never a fixture rebuild.
    "part_history_restore" -> ((s, d) => {
      val sink = partRestoreFixture(s, d)
      if (sink.currentVersion(s) > 2L) sink.restore(s, 2L)
      sink.restore(s, 0L)
      sink.read(s)
    }),

    // Delta-built CDC across the whole history (v0 → v2): insert /
    // update pre+post / delete classification computed from the
    // actions files' add/remove lists — only touched directories'
    // files are read (PartitionedHistoryCrashSpec pins the file set).
    // Oracle derives each change slice in closed form.
    "part_changefeed" -> ((s, d) => {
      val sink = partHistoryFixture(s, d)
      sink.changeFeed(s, 0L, 2L, withPreimages = true)
    }),

    // Dynamic file pruning end to end through the oracle: the q3
    // star-join shape — a selective customer-side filter whose keys
    // prune the versioned orders store's FILES before scheduling
    // (sorted-key windows against per-file min/max + bloom refinement;
    // PlanAuditSpec asserts kept ≪ total on this very fixture). The
    // oracle recomputes the semi-join + aggregate over the base
    // tables — a hash match proves key-based file pruning never drops
    // a file holding a matching order.
    "upsert_join_prune" -> ((s, d) => {
      val sink = joinPruneFixture(s, d)
      val dim = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING" &&
          col("c_nationkey") <= 2L)
        .select(col("c_custkey"))
      sink.scanForJoin(s, "o_custkey", dim)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          Hashing.portableRound(sum(col("o_totalprice")), 2).as("revenue"))
    }),

    // Custom whole-operator plan: per-key top-k via bounded heaps
    // (logical node + Strategy + SparkPlan) — same semantics as
    // window_topn_orders, O(n log k) instead of a full per-key sort.
    "topk_per_key_custom" -> ((s, d) =>
      graft.plans.TopKPerKey(
        t(s, d, "orders"),
        keys = Seq("o_custkey"),
        order = Seq(graft.plans.TopKPerKey.desc("o_totalprice"),
          graft.plans.TopKPerKey.asc("o_orderkey")),
        k = 3)
        .select(col("o_custkey"), col("rank").cast("long").as("rk"),
          col("o_orderkey"), col("o_totalprice"))),

    // ---------- north star: text analysis ----------
    // The C4-style curation pipeline in one query: quality thresholds
    // (length, punctuation, stopword density), language selection, and
    // exact dedup (min-id survivor per normalized fingerprint) — the
    // composition a training-data pipeline actually runs. Ratio
    // comparisons are safe cross-engine: both sides divide the same
    // integer counts, an exact IEEE operation.
    "docs_curation_filter" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // exactDedup references its input twice (fingerprint groups +
      // survivor semi-join) — materialize the gated survivors once so
      // the tokenize+quality scan runs once, not twice (the
      // curation_v2 precedent, applied to the v1 pipeline)
      val quality = docs.withColumn("toks", Text.tokens(col("text")))
        .filter(size(col("toks")) >= 20 &&
          Text.punctRatio(col("text")) <= 0.1 &&
          Text.stopwordRatio(col("toks")) >= 0.05 &&
          Text.langId(col("toks")) === "en")
        .select(docs.columns.map(col): _*)
        .localCheckpoint(true)
      Dedup.exactDedup(quality, "doc_id", "text")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // The round-4 curation capstone: every corpus-quality signal the
    // engine ships, composed into one pipeline — scan-side gates
    // (length, punctuation, stopword density, lang-ID, Gopher-style
    // repetition) ∧ a corpus-LM floor (6-dp-rounded mean unigram
    // log-prob, so threshold membership is engine-portable) ∧ the
    // cross-document substring-span drop signal ∧ exact-dedup
    // survivor selection. Each leg keeps its own proven scale shape
    // (scan-only / broadcast model / count-then-semi-join / hash
    // groupBy); the composition joins them on doc_id.
    "docs_curation_v2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // ONE tokenize pass feeds the scan-gate, repetition, and LM
      // legs: tokenizing is the dominant scan cost, and instantiating
      // docsWithTokens per leg re-ran it (three full corpus scans —
      // at 100 TB, three corpus reads where one suffices). The
      // materialized projection is corpus-sized but columnar-narrow
      // (ids + tokens dominate), and each leg then starts from the
      // checkpoint scan instead of its own tokenize pipeline
      // (single-scan shape pinned in PlanAuditSpec).
      // the staging spelling is size-gated: localCheckpoint at bench
      // SF (identical plan to every prior round), durable parquet
      // staging once the projection outgrows executor memory — see
      // [[staged]] for the crossover argument
      val corpusBytes = dirBytes(s, s"$d/documents.parquet")
      val toksDf = staged(s, docsWithTokens(docs), corpusBytes, "cur2-toks")
      // exactDedup references its input twice (fingerprint groups +
      // survivor semi-join); materialize the filtered survivors ONCE
      // so the three signal pipelines don't all run twice
      val kept = staged(s, curationV2Survivors(docs, toksDf),
        corpusBytes, "cur2-kept")
      Dedup.exactDedup(kept, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Deterministic stratified sampling — the data-mixing primitive of
    // training corpora (per-stratum rates, e.g. upweight English).
    // The membership test is a pure hash predicate evaluated scan-side
    // (no shuffle, no RNG state), so the sampled mixture is
    // reproducible at any parallelism and any scale, and composes with
    // partition pruning.
    "docs_sample_stratified" -> ((s, d) => {
      val rate = when(col("lang") === "en", 50)
        .when(col("lang") === "fr", 25).otherwise(10)
      t(s, d, "documents")
        .filter(pmod(Hashing.hash60(col("doc_id").cast("string")),
          lit(100L)) < rate)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Deterministic weighted sampling (Efraimidis–Spirakis): rank key
    // = ln(u)/w with u a hash-derived uniform in (0,1] and w the
    // document's quality score — the top-k per stratum IS a weighted
    // sample without replacement, biased toward high-quality docs,
    // reproducible at any parallelism (no RNG state; the same
    // hash-as-uniform trick as docs_sample_stratified, upgraded from
    // fixed per-stratum rates to per-DOC weights — the step that
    // turns docs_mix_weights' computed weights into an actual
    // sample). The key is 6-dp-rounded before ranking so both
    // engines order identical doubles; w = 0 docs are ineligible
    // (their key diverges) and are filtered, matching the oracle.
    // Scan-side key computation, one TopKPerKey exchange per stratum.
    "docs_sample_weighted" -> ((s, d) => {
      // +1 in INTEGER space before the double cast: hash60 exceeds
      // 2^53, where double +1.0 is a no-op but bigint +1 is exact —
      // the long→double conversion must then round the SAME value in
      // both engines (2^60 divisor is a power of two, exact)
      val u = (Hashing.hash60(col("doc_id").cast("string")) + lit(1L))
        .cast("double") / 1152921504606846976.0
      val scored = docsWithTokens(t(s, d, "documents"))
        .select(col("doc_id"), col("lang"),
          Text.qualityScore(col("text"), col("toks")).as("w"))
        .filter(col("w") > 0.0)
        .select(col("doc_id"), col("lang"),
          Hashing.portableRound(log(u) / col("w"), 6).as("skey"))
      graft.plans.TopKPerKey(scored, keys = Seq("lang"),
        order = Seq(graft.plans.TopKPerKey.desc("skey"),
          graft.plans.TopKPerKey.asc("doc_id")), k = 5)
        .select(col("lang"), col("rank").cast("long").as("rk"),
          col("doc_id"), col("skey"))
    }),

    // Budget-capped curation: keep only the k highest-quality docs per
    // source — the "token budget per domain" step of corpus curation —
    // running on the custom bounded-heap TopKPerKey plan (no per-key
    // sort; one exchange on source).
    "docs_quality_topk" -> ((s, d) =>
      graft.plans.TopKPerKey(
        docsWithTokens(t(s, d, "documents")).select(
          col("doc_id"), col("source"),
          Text.qualityScore(col("text"), col("toks")).as("quality_score")),
        keys = Seq("source"),
        order = Seq(graft.plans.TopKPerKey.desc("quality_score"),
          graft.plans.TopKPerKey.asc("doc_id")),
        k = 5)
        .select(col("source"), col("rank").cast("long").as("rk"),
          col("doc_id"), col("quality_score"))),

    // Concat-and-chunk sequence packing: each doc's token start
    // offset within its source's concatenation stream, and the index
    // of the 2048-token training sequence that offset falls in — the
    // standard pretraining batch-assembly step. Packing is per-source
    // (domain-sharded), so the running sum is a window partitioned by
    // source — parallel across sources, never a single global sort.
    // At 100 TB the same shape holds with a finer shard key (e.g.
    // source × date) to bound per-partition window size.
    "docs_pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docsWithTokens(t(s, d, "documents"))
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("n_tokens"))
        .withColumn("start_offset",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("seq_idx",
          floor(col("start_offset") / lit(2048)).cast("long"))
    }),

    // The boundary-splitting half of sequence packing: a document
    // whose token span crosses training-sequence boundaries emits one
    // chunk row per sequence it touches — (seq_idx, [tok_from,
    // tok_to) within the doc), the rows a batch assembler actually
    // consumes. The explode's fan-out is ceil(n_tokens/seqLen) + 1,
    // bounded per doc, so the expansion is scan-side and linear; the
    // only shuffle remains the per-source window that assigned the
    // offsets. seqLen here is 512 (not pack_sequences' 2048) so the
    // boundary-straddling case actually OCCURS at the sf0.01 oracle
    // gate (per-source streams there carry ~1.3-1.5k tokens — under
    // 2048, which would make every oracle row a vacuous single-chunk
    // doc); TextSpec pins the non-vacuity.
    // Sequence packing by the TRAINED TOKENIZER's token budget — what
    // a batch assembler actually packs by (whitespace counts
    // under-budget long words and miss the </w> markers entirely):
    // one tokenize scan through the size-gated model join against the
    // persisted BPE state (OOV falls to character-level, the encode
    // contract), per-doc BPE token counts, then the same
    // domain-sharded running-sum window as docs_pack_sequences. The
    // oracle replays the full 8-round training chain and packs from
    // the replayed vocabulary — segmentation AND packing are checked
    // against the trained artifact, not a re-implementation.
    "docs_pack_bpe_budget" -> ((s, d) => {
      val st = s.read.parquet(bpeFixture(s, d)._2)
      val wlens = st.select(col("word"), size(col("syms")).as("wlen"))
      val words = t(s, d, "documents").select(col("doc_id"), col("source"),
        explode(Text.tokens(col("text"))).as("word"))
      val counts = graft.functions.ModelJoin
        .sizeGated(words, wlens, Seq("word"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(coalesce(col("wlen"), length(col("word")) + lit(1)))
          .cast("long").as("n_bpe_tokens"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      counts
        .withColumn("start_offset",
          coalesce(sum(col("n_bpe_tokens")).over(w), lit(0L)))
        .withColumn("seq_idx",
          floor(col("start_offset") / lit(1024)).cast("long"))
    }),

    // The TRAINED-tokenizer budget pack on the composed (source,
    // shard) spine — docs_pack_bpe_budget's counts under
    // docs_pack_sharded's scale shape, so the pack a batch assembler
    // actually runs (real BPE token budgets) also has bounded window
    // partitions. The oracle replays the full training chain AND the
    // sharded pack.
    "docs_pack_bpe_sharded" -> ((s, d) => {
      val st = s.read.parquet(bpeFixture(s, d)._2)
      val wlens = st.select(col("word"), size(col("syms")).as("wlen"))
      val words = t(s, d, "documents").select(col("doc_id"), col("source"),
        explode(Text.tokens(col("text"))).as("word"))
      val counts = graft.functions.ModelJoin
        .sizeGated(words, wlens, Seq("word"), "left")
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(coalesce(col("wlen"), length(col("word")) + lit(1)))
          .cast("long").as("n_bpe_tokens"))
        .withColumn("shard",
          pmod(Hashing.hash60(col("doc_id").cast("string")), lit(4L))
            .cast("int"))
      val w = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      counts
        .withColumn("start_offset",
          coalesce(sum(col("n_bpe_tokens")).over(w), lit(0L)))
        .withColumn("seq_idx",
          floor(col("start_offset") / lit(1024)).cast("long"))
    }),

    // Shard-composed sequence packing — the scale fix for the pack
    // family's one structural caveat: a per-source running sum makes
    // ONE window partition per source, so a corpus-fraction-sized
    // source would serialize into a single (spilling but sequential)
    // task at 100 TB. Composing the spine with docs_shard_assign's
    // hash sharding bounds every window partition: the running sum
    // partitions by (source, shard), shard = hash-mod of doc_id
    // (deterministic, data-independent), and shard COUNT is the knob
    // that holds per-partition size constant as the corpus grows —
    // each (source, shard) stream packs its own independent sequence
    // space, exactly how a batch assembler consumes shards (per-shard
    // output files, per-shard budgets). TextSpec pins exact tiling
    // within every composed spine; the per-source variants above stay
    // for single-stream parity.
    "docs_pack_sharded" -> ((s, d) => {
      val w = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docsWithTokens(t(s, d, "documents"))
        .select(col("doc_id"), col("source"),
          pmod(Hashing.hash60(col("doc_id").cast("string")), lit(4L))
            .cast("int").as("shard"),
          size(col("toks")).cast("long").as("n_tokens"))
        .withColumn("start_offset",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("seq_idx",
          floor(col("start_offset") / lit(512)).cast("long"))
    }),

    "docs_pack_chunks" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docsWithTokens(t(s, d, "documents"))
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("n_tokens"))
        .withColumn("start_offset",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .filter(col("n_tokens") > 0)
        .withColumn("seq_idx", explode(sequence(
          floor(col("start_offset") / 512.0).cast("long"),
          floor((col("start_offset") + col("n_tokens") - 1) / 512.0)
            .cast("long"))))
        .select(col("doc_id"), col("source"), col("seq_idx"),
          (greatest(col("start_offset"), col("seq_idx") * 512L)
            - col("start_offset")).as("tok_from"),
          (least(col("start_offset") + col("n_tokens"),
            (col("seq_idx") + 1L) * 512L)
            - col("start_offset")).as("tok_to"))
    }),

    // Benchmark decontamination: corpus documents sharing ≥ 8 distinct
    // 3-gram shingle hashes with a benchmark/eval set (here: docs
    // Deterministic shuffle-and-shard: the training-order assignment
    // between curation and batch assembly — every pretraining run
    // permutes the corpus and splits it into shards. The permutation
    // key is a SALTED hash of doc_id, independent of the shard hash
    // (reusing one hash for both would order every shard by its own
    // bucket remainders — a correlated, non-uniform "shuffle"); shard
    // is hash-mod; position is the within-shard rank. Shards are
    // mutually independent, so the only sort is per-shard — parallel
    // across shards, reproducible at any parallelism (no RNG state),
    // and shard COUNT is the scale knob: at 100 TB shards are sized
    // to the target output file, so the per-shard sort handles
    // file-sized runs, never the corpus (a global ORDER BY would).
    "docs_shard_assign" -> ((s, d) => {
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("order_key"), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"),
          pmod(Hashing.hash60(col("doc_id").cast("string")), lit(8L))
            .cast("int").as("shard"),
          Hashing.saltedHash60(lit("shuffle"),
            col("doc_id").cast("string")).as("order_key"))
        .withColumn("pos", (row_number().over(w) - 1).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // 0-49 — non-empty overlap at every driver SF) — the standard
    // pre-training leakage check. The benchmark shingle set is
    // eval-suite-sized at any corpus scale, so it BROADCASTS; the
    // corpus is scanned once and only matching shingles reach the
    // aggregate.
    "docs_decontaminate" -> ((s, d) => {
      val sh = Dedup.docShingleHashes(t(s, d, "documents"),
        "doc_id", "text", 3)
      val bench = sh.filter(col("doc_id") < 50).select(col("sh")).distinct()
      sh.filter(col("doc_id") >= 50)
        .join(broadcast(bench), "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= 8)
    }),

    // Within-document repetition (the Gopher-style quality signal):
    // fraction of duplicate 3-gram shingles. Pure scan-side array
    // math — no explode, no shuffle; at 100 TB this filter costs one
    // pass over the text column.
    "docs_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
        // fused native window-hash; distinct-by-hash counts equal
        // distinct-by-string counts (the oracle's list_distinct over
        // strings) short of a within-doc 60-bit collision
        .select(col("doc_id"),
          graft.plans.ShingleHashesExpr.shingle_hashes(col("tk"), 3)
            .as("sh"))
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"),
          size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
        .withColumn("dup_ratio",
          when(col("n_shingles") > 0, Hashing.portableRound(
              lit(1.0) - col("n_distinct").cast("double") /
                col("n_shingles").cast("double"), 6))
            .otherwise(lit(0.0)))),

    // PII scrubbing (the pre-training redaction step). The corpus is
    // synthetic word-salad with no organic PII, so the query PLANTS
    // deterministic doc_id-derived emails/phones/IPs first (the same
    // injection is mirrored in the oracle); what is under test is the
    // detector and redactor regex machinery — counts come from
    // matching the augmented text, not from the injection arithmetic,
    // and the redacted-text fingerprint proves replacement parity
    // byte for byte. Scan-side only: at 100 TB this is one codegen'd
    // pass over the text column, no shuffle.
    "docs_pii_scrub" -> ((s, d) => {
      val aug = t(s, d, "documents").withColumn("pii_text",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit("-0199"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
              lit(".0.1"))).otherwise(lit(""))))
      aug.select(col("doc_id"),
        Text.piiCount(col("pii_text"), Text.emailPattern).as("n_emails"),
        Text.piiCount(col("pii_text"), Text.phonePattern).as("n_phones"),
        Text.piiCount(col("pii_text"), Text.ipv4Pattern).as("n_ips"),
        Hashing.fingerprint(Text.redactPii(col("pii_text")).cast("binary"))
          .as("clean_fp"))
    }),

    // Unigram-LM quality proxy (the KenLM-style perplexity filter,
    // with the corpus itself as the language model): per-doc mean
    // token log-probability under corpus unigram frequencies. The
    // model join is size-gated (ModelJoin): vocabulary-sized tables
    // broadcast, corpus-scale ones shuffle_hash on the exploded word
    // key — so the shape survives vocabulary growth at 100 TB.
    "docs_unigram_logprob" -> ((s, d) => {
      val words = docsWithTokens(t(s, d, "documents"))
        .select(col("doc_id"), explode(col("toks")).as("word"))
      // vocabulary-sized model table, materialized once: the total is
      // then a 1-row scalar off the tiny table instead of a third
      // full tokenize-and-explode scan of the corpus (the two
      // remaining corpus scans — model build + scoring — are the
      // standard two-pass shape of corpus-LM filters)
      val (freq, tnOpt) = graft.functions.ModelJoin.checkpointWithSum(
        words.groupBy(col("word")).agg(count(lit(1)).as("wn")), "wn")
      val tn = tnOpt.get.toDouble
      graft.functions.ModelJoin.sizeGated(words, freq, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          Hashing.portableRound(
            avg(log(col("wn").cast("double") / lit(tn))),
            6).as("avg_logprob"))
    }),

    // The capped-vocabulary twin of docs_unigram_logprob: top-V words
    // by count with UNK smoothing for the OOV mass — the documented
    // 100 TB spelling (the model is BOUNDED at V rows, so the scoring
    // join broadcasts forever; the uncapped twin relies on ModelJoin's
    // size gate instead). V = 20 < the 31-word fixture vocabulary, so
    // OOV tokens genuinely occur at oracle SF (non-vacuous smoothing).
    "docs_unigram_logprob_capped" -> ((s, d) =>
      graft.functions.LangModel.unigramLogprobCapped(
        t(s, d, "documents"), "doc_id", "text", 20)),

    // CCNet-style head/middle/tail tiering per language by unigram-LM
    // score — the "keep the head, sample the middle, drop the tail"
    // curation signal. Tercile thresholds are integer algebra over the
    // distinct-score level frame (no per-doc NTILE sort; see
    // LangModel.perplexityBuckets). The scored frame feeds two
    // consumers, so it stages through the size-gated helper like
    // docs_curation_v2's projections (scores are ~1/4 of corpus bytes
    // — id + lang + two numerics vs full text).
    "docs_perplexity_buckets" -> ((s, d) =>
      graft.functions.LangModel.perplexityBuckets(
        t(s, d, "documents"), "doc_id", "text", "lang",
        stage = df => staged(s, df,
          dirBytes(s, s"$d/documents.parquet") / 4, "pplbuck-scored"))),

    // BPE merge training: the learned top-8 merge table over the
    // corpus — one corpus scan into word counts, then every round
    // runs on the vocabulary-sized state (see Text.bpeMerges). The
    // oracle replays all 8 rounds (pair count → argmax → greedy
    // windowed apply) in DuckDB from the same word counts. Trained
    // once per (process, sf) via [[bpeFixture]] — the tokenizer is a
    // write-once artifact; the training loop's own scaling is
    // documented in PLANS.md (vocabulary-sized rounds).
    "docs_bpe_merges" -> ((s, d) => {
      import s.implicits._
      bpeFixture(s, d)._1
        .toDF("rank", "lhs", "rhs", "merged", "pair_count")
    }),

    // The apply side of BPE: per-doc word and BPE-token counts from
    // the trained vocabulary state joined back through the size-gated
    // model join — encoding is ONE corpus scan against the persisted
    // tokenizer artifact ([[bpeFixture]]); the training rounds never
    // touch the corpus.
    "docs_bpe_token_counts" -> ((s, d) =>
      graft.functions.Text.bpeEncodeCountsFrom(t(s, d, "documents"),
        "doc_id", "text", s.read.parquet(bpeFixture(s, d)._2))),

    // Tokenizer fertility per language: character-symbol count vs
    // merged-token count off the same persisted tokenizer — the
    // standard "how well does the vocabulary cover each language"
    // eval; one scan, ≤n_langs output rows.
    "docs_bpe_compression" -> ((s, d) =>
      graft.functions.Text.bpeCompressionByLang(t(s, d, "documents"),
        "text", "lang", s.read.parquet(bpeFixture(s, d)._2))),

    // DSIR importance weights (Xie et al. 2023): per-doc mean hashed-
    // unigram log-likelihood ratio of a target distribution (lang=en
    // as the target proxy) vs the raw corpus. One tokenize pass folded
    // to per-doc bucket histograms; the 64-row bucket model is a
    // collected local relation so the scoring join broadcasts forever.
    "docs_dsir_weights" -> ((s, d) =>
      graft.functions.Dsir.importanceWeights(t(s, d, "documents"),
        "doc_id", "text", col("lang") === "en", 64,
        stage = df => staged(s, df,
          dirBytes(s, s"$d/documents.parquet") / 4, "dsir-hist"))),

    // The sampling half of DSIR: deterministic Gumbel-top-k over the
    // per-doc importance weight sums — the step that turns the weights
    // into an actual selected subset (global TakeOrderedAndProject,
    // bounded per-partition heaps).
    "docs_dsir_resample" -> ((s, d) =>
      graft.functions.Dsir.gumbelResample(t(s, d, "documents"),
        "doc_id", "text", col("lang") === "en", 64, 25,
        stage = df => staged(s, df,
          dirBytes(s, s"$d/documents.parquet") / 4, "dsir-hist"))),

    // TF-IDF top terms per document (the classic salient-term
    // extractor). The document-frequency table is vocabulary-sized —
    // broadcast, like the unigram-LM model — and the per-doc ranking
    // runs on the bounded-heap TopKPerKey plan: one exchange on
    // doc_id, no per-doc sort. Scores are 6-dp rounded BEFORE ranking
    // so both engines rank identical doubles (word asc tie-break). At
    // web scale the model table caps to a top-V vocabulary; the shape
    // is unchanged.
    "docs_tfidf_topk" -> ((s, d) => {
      val words = docsWithTokens(t(s, d, "documents"))
        .select(col("doc_id"), explode(col("toks")).as("word"))
      // ONE tokenize pass: tf is staged (durable above the gate) and
      // the document-frequency model derives FROM it — tf holds one
      // row per distinct (doc, word), so count-per-word over tf IS
      // countDistinct(doc_id) over the raw words. The former spelling
      // re-read and re-tokenized the whole corpus for dfreq (guide
      // §2.3 — don't pay a second pass for an aggregate of the first).
      val tf = staged(s,
        words.groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf")),
        dirBytes(s, s"$d/documents.parquet") / 2, "tfidf-tf")
      // vocabulary-sized document-frequency model, materialized once
      // and joined through the SIZE-GATED discipline every corpus-LM
      // family uses (broadcast under the row threshold, shuffle-hash
      // above): a 100 TB corpus's vocabulary outgrows a broadcast,
      // and a hardcoded broadcast() would also sidestep the
      // at-scale shuffle_hash regime ScaleProof proves with
      // graft.model.broadcastMaxRows=0
      val dfreq = tf.groupBy(col("word"))
        .agg(count(lit(1)).as("df"))
        .localCheckpoint(true)
      val nDocs = t(s, d, "documents").count().toDouble
      val scored = graft.functions.ModelJoin.sizeGated(tf, dfreq, Seq("word"))
        .select(col("doc_id"), col("word"),
          Hashing.portableRound(
            col("tf").cast("double") * log(lit(nDocs) / col("df").cast("double")),
            6).as("tfidf"))
      graft.plans.TopKPerKey(scored,
        keys = Seq("doc_id"),
        order = Seq(graft.plans.TopKPerKey.desc("tfidf"),
          graft.plans.TopKPerKey.asc("word")),
        k = 3)
        .select(col("doc_id"), col("rank").cast("long").as("rk"),
          col("word"), col("tfidf"))
    }),

    // Bigram-LM quality proxy with add-one smoothing — the unigram
    // model's (docs_unigram_logprob) order-sensitive upgrade: mean
    // log P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V) per document. Both model
    // tables are vocabulary-scale and broadcast; the implementation
    // (graft.functions.LangModel) also offers a durable write-once
    // model store so repeated corpus scoring amortizes the model
    // build — this entry exercises the in-run path, LangModelSpec
    // pins the two paths equal.
    "docs_bigram_logprob" -> ((s, d) =>
      graft.functions.LangModel.bigramLogprob(
        t(s, d, "documents"), "doc_id", "text")),

    // Data-mixing weights: per-language token mass and the sampling
    // weight that re-balances the mixture to uniform across observed
    // languages (the "data mixing" step of pretraining corpus
    // assembly). The language-count-sized aggregate is materialized
    // ONCE (without it the totals subtree re-scans the whole corpus —
    // verified in the plan), then the 1-row total broadcasts back
    // onto it: one corpus scan, no collect.
    "docs_mix_weights" -> ((s, d) => {
      val byLang = docsWithTokens(t(s, d, "documents"))
        .groupBy(col("lang"))
        .agg(sum(size(col("toks")).cast("long")).as("lang_tokens"))
        .localCheckpoint(true)
      val totals = byLang.agg(
        sum(col("lang_tokens")).as("total_tokens"),
        count(lit(1)).as("n_langs"))
      byLang.crossJoin(broadcast(totals))
        .select(col("lang"), col("lang_tokens"),
          Hashing.portableRound(col("lang_tokens").cast("double")
            / col("total_tokens").cast("double"), 6).as("token_share"),
          Hashing.portableRound(col("total_tokens").cast("double")
            / (col("n_langs").cast("double") * col("lang_tokens").cast("double")),
            6).as("mix_weight"))
    }),

    // Language-ID confusion matrix: detector guess × labeled lang —
    // the standard classifier-evaluation query, and a data-quality
    // audit of the heuristic the curation filter relies on. Scan-side
    // detection, one aggregation; the matrix is |langs|² rows at any
    // corpus size.
    "docs_lang_confusion" -> ((s, d) =>
      docsWithTokens(t(s, d, "documents"))
        .groupBy(col("lang"), Text.langId(col("toks")).as("lang_guess"))
        .agg(count(lit(1)).as("n_docs"))),

    "text_stats" -> ((s, d) =>
      docsWithTokens(t(s, d, "documents")).select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        Text.tokenCountBpeEst(col("text")).as("n_tokens_bpe_est"),
        Hashing.portableRound(Text.avgTokenLen(col("toks")), 6).as("avg_token_len"),
        Hashing.portableRound(Text.punctRatio(col("text")), 6).as("punct_ratio"),
        Hashing.portableRound(Text.stopwordRatio(col("toks")), 6).as("stopword_ratio"),
        Text.qualityScore(col("text"), col("toks")).as("quality_score"),
        Text.langId(col("toks")).as("lang_guess"),
        Text.docFingerprint(col("text")).as("fingerprint"))),

    // Array higher-order predicates: exists / forall over tokens.
    "docs_token_predicates" -> ((s, d) =>
      docsWithTokens(t(s, d, "documents")).select(
        col("doc_id"),
        exists(col("toks"), t => length(t) > 7).as("has_long_token"),
        forall(col("toks"), t => length(t) <= 10).as("all_short_tokens"))),

    // Order-sensitive rolling-hash fingerprint (Rabin–Karp fold).
    "doc_rolling_fp" -> ((s, d) =>
      docsWithTokens(t(s, d, "documents")).select(
        col("doc_id"),
        Text.rollingFingerprint(col("toks")).as("rolling_fp"))),

    "token_count_by_source" -> ((s, d) =>
      docsWithTokens(t(s, d, "documents"))
        .groupBy(col("source"))
        .agg(
          sum(size(col("toks"))).as("total_tokens"),
          sum(Text.tokenCountBpeEst(col("text"))).as("total_tokens_bpe_est"),
          count(lit(1)).as("n_docs"))),

    // ---------- north star: deduplication ----------
    "dedup_exact_docs" -> ((s, d) =>
      Dedup.exactDupGroups(t(s, d, "documents"), "doc_id", "text")),

    "dedup_minhash_bands" -> ((s, d) =>
      Dedup.lshBands(
        Dedup.minhashSignatures(
          Dedup.docShingleHashes(t(s, d, "documents"), "doc_id", "text", 3),
          minhashK),
        minhashK, minhashBands)),

    "dedup_minhash_pairs" -> ((s, d) =>
      Dedup.lshCandidatePairs(
        Dedup.lshBands(
          Dedup.minhashSignatures(
            Dedup.docShingleHashes(t(s, d, "documents"), "doc_id", "text", 3),
            minhashK),
          minhashK, minhashBands))),

    "dedup_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(
        Dedup.docShingleHashes(t(s, d, "documents"), "doc_id", "text", 3),
        0.5, maxShingleDf = 32)),

    // Cross-corpus (bipartite) similarity join: exact shingle-jaccard
    // pairs BETWEEN two corpora — here the even- and odd-id halves of
    // documents standing in for two crawl snapshots — never within
    // one. The fuzzy-contamination / snapshot-alignment operator; the
    // hot-shingle cap uses the combined document frequency.
    "docs_crossdup_pairs" -> ((s, d) => {
      val sh = Dedup.docShingleHashes(t(s, d, "documents"),
        "doc_id", "text", 3)
      Dedup.crossDupPairs(
        sh.filter(col("doc_id") % 2 === 0),
        sh.filter(col("doc_id") % 2 === 1),
        0.5, maxShingleDf = 32)
    }),

    // Suffix-array-style exact substring dedup, Spark-shaped: maximal
    // token spans covered by verbatim 8-gram windows shared across
    // ≥2 distinct documents (count-then-semi-join — no pair fan-out,
    // so boilerplate needs no hot-bucket cap here).
    "dedup_substring_spans" -> ((s, d) =>
      Dedup.crossDocDupSpans(t(s, d, "documents"), "doc_id", "text", 8)),

    // The per-doc drop/trim signal substring dedup feeds curation.
    "docs_dup_span_fraction" -> ((s, d) =>
      Dedup.dupSpanFraction(t(s, d, "documents"), "doc_id", "text", 8)),

    // Near-duplication is transitive in practice: pair lists must be
    // clustered before survivor selection. Star-contraction connected
    // components (O(log² n) rounds, not O(diameter)) over the verified
    // jaccard pairs; the oracle's recursive CTE computes the same
    // fixpoint by transitive closure.
    "dedup_clusters" -> ((s, d) => {
      val cc = Dedup.connectedComponents(neardupPairs(s, d))
      // groupBy+broadcast-join over a window: the size agg partial-
      // aggregates map-side and the per-cluster relation is tiny
      val sizes = cc.groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"))
      cc.join(broadcast(sizes), "component")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"))
    }),

    // Keep-one-per-cluster: the full near-dup dedup pipeline end to
    // end (shingle → cap → verify → cluster → anti-join survivors).
    "dedup_neardup_survivors" -> ((s, d) => {
      val drop = Dedup.connectedComponents(neardupPairs(s, d))
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      // drop is PAIR-LIST-bounded (capped candidate generation), but it
      // flows out of the CC plan with no size stats — unhinted, the
      // anti-join sort-merges and shuffles the whole corpus (r20 plan
      // audit: 2 Exchange + 2 Sort → 0). SIZE-GATED rather than a
      // blanket broadcast hint: drop grows with corpus duplication, so
      // past the gate the join degrades to shuffle_hash instead of
      // blowing the driver (the one cheap count runs on the CC
      // output, never the corpus)
      graft.functions.ModelJoin.sizeGated(t(s, d, "documents"), drop,
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Quality-aware survivor selection: production dedup keeps the
    // BEST representative of each duplicate cluster, not the smallest
    // id — the survivors rule respelled with the quality score as the
    // ranking (6-dp-rounded, so both engines rank identical doubles;
    // ties break on min doc_id). Scale shape: the member set is
    // PAIR-LIST-sized (orders of magnitude below the corpus — that is
    // what capped candidate generation buys), so only members get
    // scored, ranking runs on the bounded-heap TopKPerKey plan (k=1
    // per component), and the corpus is touched exactly once more, by
    // a broadcast anti-join of the (tiny) losers list.
    "dedup_survivors_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // CC member set is PAIR-LIST-bounded but duplication-growing —
      // size-gate both corpus-side joins (the scoring gather and the
      // losers anti-join). ONE cheap count of the member set (CC
      // output: driver-path local rows, or one join over its internal
      // checkpoints) gates everything derived from it — best and
      // losers are subsets, so counting THEM (which would re-run the
      // whole scoring pipeline) is never needed.
      val members = Dedup.connectedComponents(neardupPairs(s, d))
        .select(col("node").as("doc_id"), col("component"))
      val membersSmall = members.count() <=
        graft.functions.ModelJoin.broadcastMaxRows(docs)
      def gated(m: DataFrame): DataFrame =
        if (membersSmall) broadcast(m) else m.hint("shuffle_hash")
      val scored = docsWithTokens(docs)
        .join(gated(members), Seq("doc_id"))
        .select(col("doc_id"), col("component"),
          Text.qualityScore(col("text"), col("toks")).as("q"))
      val best = graft.plans.TopKPerKey(scored, keys = Seq("component"),
        order = Seq(graft.plans.TopKPerKey.desc("q"),
          graft.plans.TopKPerKey.asc("doc_id")), k = 1)
        .select(col("doc_id"))
      // best is ≤ |components| rows but flows out of the custom plan
      // with no size stats — hint it, or the anti-join sort-merges
      val losers = members.join(gated(best), Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
      docs.join(gated(losers), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    "dedup_simhash" -> ((s, d) =>
      Dedup.simhash(t(s, d, "documents"), "doc_id", "text")),

    // ---------- north star: similarity search ----------
    "embed_norms" -> ((s, d) =>
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dims"),
        Hashing.portableRound(Similarity.norm(col("embedding")), 6).as("l2_norm"))),

    "embed_topk_bruteforce" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), 5)
    }),

    // ANN path — fully oracled: the pipeline is deterministic (fixed
    // hyperplanes / seed cells), so DuckDB reproduces it end to end;
    // recall vs brute force is additionally ScalaTest'd.
    "embed_topk_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshBucketedTopK(emb, emb.filter(col("vec_id") < 8), 5,
        planes = 4, dims = 64)
    }),

    // The SRP bucket assignment feeding embed_topk_lsh's candidate
    // generation, exposed at the same (tables=8, planes=4, dims=64)
    // parameters so the ANN path's deterministic core IS oracle-checked
    // (the end-to-end top-k stays recall-tested: approximate results
    // have no SQL ground truth).
    "embed_srp_buckets" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      e.select(col("vec_id"),
        posexplode(Similarity.srpBuckets(col("embedding"), 4, 64, 8))
          .as(Seq("tbl", "bucket")))
    }),

    // Per-dimension feature standardization (z-scoring) — the classic
    // embedding prep step before clustering/indexing. The per-dim
    // stats table is |dims| rows at ANY corpus size, so scoring joins
    // against a BROADCAST — the corpus is scanned once by the stats
    // aggregate (map-side partials on a posexplode stream) and once
    // by the scorer, and never shuffles full vectors. Stats round to
    // 6 dp BEFORE use (the assignToSeeds precedent: partial-agg
    // summation order differs across engines in the last ulp;
    // rounding both the stats and the z-scores absorbs it outside
    // astronomically unlikely rounding-boundary hits). sd = 0 dims
    // are excluded on both sides (a constant dimension has no
    // z-score; engines disagree on x/0 semantics).
    "embed_standardize" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("v").cast("double").as("v"))
      val stats = e.groupBy(col("dim")).agg(
        Hashing.portableRound(avg(col("v")), 6).as("mu"),
        Hashing.portableRound(stddev_samp(col("v")), 6).as("sd"))
        .filter(col("sd") > 0.0)
      e.join(broadcast(stats), Seq("dim"))
        .select(col("vec_id"), col("dim"),
          Hashing.portableRound((col("v") - col("mu")) / col("sd"), 6)
            .as("z"))
    }),

    // SQ8 scalar-quantized ANN: 1-byte codes + per-vector scale,
    // approximate ranking on EXACT-integer code dot products (no
    // float-summation ambiguity in the recall-critical step), exact
    // cosine re-rank of the 20-candidate short list. The third ANN
    // scale path beside LSH and IVF — this one trades recall for scan
    // BANDWIDTH (~4× fewer bytes than float32 embeddings).
    "embed_topk_sq8" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 8), 5,
        rerank = 20, codes = Some(sq8CodesFixture(s, d)))
    }),

    // Product-quantization ADC: the fourth ANN path — m=8 per-subspace
    // codebooks, vectors stored as 8 small codes, approximate ranking
    // = 8 integer LUT lookups per corpus row (no float vector touched
    // until the exact re-rank). The codebook is 6-dp-rounded carried
    // state and the LUT terms are exact integers, so the whole
    // approximate ranking is engine-portable (see Similarity.pqTopK).
    "embed_topk_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8), 5,
        m = 8, nCodes = 16, rerank = 40,
        codebook = Some(pqModelFixture(s, d, 8, 16, 1)),
        codes = Some(pqCodesFixture(s, d, 8, 16, 1, withCell = false)))
    }),

    // Deletion reaching the derived ANN artifacts (the 100 TB
    // takedown/decontamination path): both codes tables serve a
    // build+append+REMOVE generation chain — ~1/7 of the corpus
    // tombstoned, folded out by the store's anti-join at codes() —
    // and the rankings must equal a corpus that never held the
    // removed vectors (the DuckDB mirror excludes them from the
    // neighbor side; queries and candidate budgets are unchanged).
    "embed_topk_pq_removed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8), 5,
        m = 8, nCodes = 16, rerank = 40,
        codebook = Some(pqModelFixture(s, d, 8, 16, 1)),
        codes = Some(pqCodesRemovedFixture(s, d)))
    }),
    "embed_topk_sq8_removed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 8), 5,
        rerank = 20, codes = Some(sq8CodesRemovedFixture(s, d)))
    }),

    // PQ at production-shaped codebook parameters: 256 codes per
    // subspace trained over TWO Lloyd rounds (FAISS-standard shape vs
    // the 16-code one-step demo above). Same integer-exact ADC, same
    // generated oracle chain with the extra assignment/re-average
    // round replayed — the determinism contract survives iteration
    // because the carried centroid state rounds to 6 dp each round.
    "embed_topk_pq_trained" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8), 5,
        m = 8, nCodes = 256, rerank = 40, iters = 2,
        codebook = Some(pqModelFixture(s, d, 8, 256, 2)),
        codes = Some(pqCodesFixture(s, d, 8, 256, 2, withCell = false)))
    }),

    // IVF-PQ — the classical FAISS composition: the IVF coarse
    // quantizer restricts each query's ADC scan to its 4 probed
    // cells, PQ's integer ADC ranks within them, exact re-rank of
    // the short list. Both halves keep their proven mirrors; the
    // oracle composes them on the probed-cell gate.
    "embed_topk_ivfpq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8), 5,
        nCells = 16, nProbe = 4, m = 8, nCodes = 16, rerank = 40,
        codebook = Some(pqModelFixture(s, d, 8, 16, 1)),
        quantized = Some(ivfQuantFixture(s, d)),
        codes = Some(pqCodesFixture(s, d, 8, 16, 1, withCell = true)))
    }),

    // Embedding-cosine near-dup pairs: SRP candidate generation +
    // exact verify (the synthetic corpus tops out near cosine 0.5, so
    // the demo threshold is 0.4; production would use ~0.95).
    "dedup_embed_neardup" -> ((s, d) =>
      Similarity.embeddingNearDupPairs(t(s, d, "embeddings"), 0.4,
        planes = 4, dims = 64, tables = 8)),

    // Cross-corpus SEMANTIC near-dup join: the bipartite variant over
    // the even/odd-id halves standing in for two vector corpora —
    // the embedding-space twin of docs_crossdup_pairs.
    "embed_crossdup_pairs" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.crossEmbeddingNearDupPairs(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        0.4, planes = 4, dims = 64, tables = 8)
    }),

    // The cluster operator composes across dedup families: the same
    // star-contraction components over embedding-cosine (semantic)
    // near-dup pairs, not just shingle-jaccard ones.
    "embed_neardup_clusters" -> ((s, d) =>
      Dedup.connectedComponents(
        Similarity.embeddingNearDupPairs(t(s, d, "embeddings"), 0.4,
          planes = 4, dims = 64, tables = 8),
        aCol = "vec_a", bCol = "vec_b")
        .select(col("node").as("vec_id"), col("component").as("cluster_id"))),

    // Streaming semantic admission, batch-equivalent: the embeddings
    // corpus arrives as two fixed batches (low/high id halves) through
    // embedNearDupFilterBatch over a fresh scratch store — the rows
    // are the ADMITTED vectors per batch (the embed_semdedup signal at
    // ingest: a vector sharing an SRP bucket with anything admitted
    // before it is rejected). 12 planes = 4096-way buckets, so at the
    // oracle SF collisions mean real near-identity (the planted exact
    // copies drop; the corpus survives), not load-factor accidents.
    // Deterministic (fixed hyperplanes, fixed split) so the whole
    // sequential admission mirrors in SQL; each invocation rebuilds a
    // fresh store, so reruns reproduce the same rows.
    "docs_embed_admission" -> ((s, d) => {
      val (b1, b2) = embSplit(t(s, d, "embeddings"))
      val store = scratchDir(s, "embadm") // fresh per invocation
      val a1 = Similarity.embedNearDupFilterBatch(b1, store,
        planes = 12, dims = 64, tables = 8)
        .select(col("vec_id"), lit(1L).as("batch"))
      val a2 = Similarity.embedNearDupFilterBatch(b2, store,
        planes = 12, dims = 64, tables = 8)
        .select(col("vec_id"), lit(2L).as("batch"))
      a1.unionAll(a2)
    }),

    // Streaming LEXICAL admission, batch-equivalent — the minhash
    // analog of docs_embed_admission (previously spec-only): the
    // documents corpus arrives as two fixed batches (low/high id
    // halves) through nearDupFilterBatch over a fresh scratch store;
    // rows are the ADMITTED docs per batch. Deterministic (md5
    // minhash family, fixed split), so the sequential admission —
    // within-batch smaller-id rule, then the store join with
    // self-exclusion — mirrors in SQL over the shared bands CTE.
    // Non-vacuity: the store must carry its commit log.
    "docs_minhash_admission" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val r = docs.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val thr = (r.getLong(0) + r.getLong(1)) / 2
      val store = scratchDir(s, "mhadm") // fresh per invocation
      val a1 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") <= thr), store, "doc_id", "text")
        .select(col("doc_id"), lit(1L).as("batch"))
      val a2 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") > thr), store, "doc_id", "text")
        .select(col("doc_id"), lit(2L).as("batch"))
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(store, "_commits")),
        "docs_minhash_admission did not write an admission commit log")
      a1.unionAll(a2)
    }),

    // The admission-store LAYOUT-MIGRATION path: identical decisions
    // to docs_minhash_admission with a crash-safe rebucketAdmitted
    // migration (16 buckets → 32) between the two batches — the
    // modulus is engine-internal, so the oracle is the SAME
    // sequential-admission SQL. Runs the migration (re-key, staged
    // partitioned write, one layout-swapping commit) through the hash
    // gate every round; batch 2 probes the MIGRATED layout. The
    // moduli are deliberately SMALLER than production defaults: the
    // decision-invariance coverage is identical at any modulus pair
    // (the migration re-keys every row either way), while staging
    // fan-out — pure proof-row overhead — scales with the bucket
    // count.
    "docs_minhash_admission_rebucket" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val r = docs.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val thr = (r.getLong(0) + r.getLong(1)) / 2
      val store = scratchDir(s, "mhadmrb") // fresh per invocation
      val a1 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") <= thr), store, "doc_id", "text",
        nBuckets = 16)
        .select(col("doc_id"), lit(1L).as("batch"))
      Dedup.rebucketAdmitted(s, store, 32)
      val a2 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") > thr), store, "doc_id", "text",
        nBuckets = 32)
        .select(col("doc_id"), lit(2L).as("batch"))
      a1.unionAll(a2)
    }),

    // The INCREMENTAL-growth path — the online alternative to the
    // stop-the-world migration above: admissions run with a byte
    // budget that auto-SPLITS over-budget buckets into power-of-two
    // children inside the writer's own turns (extendible hashing; no
    // exclusivity — cost bounded by one bucket's data per split). The
    // split layout is engine-internal, so the oracle is the
    // sequential-admission SQL over the same slice: any
    // split that strands a key off its probe chain, or a chain probe
    // that misses a depth, hash-fails this row. Non-vacuity is
    // asserted in the query itself: the store must actually have
    // split. The corpus is a FIXED 1/7 id slice (doc_id % 7 = 3):
    // split decision-invariance coverage is identical however many
    // rows ride the split — the full-corpus variant priced 4.8% of
    // the whole battery for rows the assert never needed (the
    // standing proof-row budget in PLANS.md) — and the 1-BYTE bucket
    // budget makes any non-empty bucket over-budget at every SF, so
    // the thinner slice still splits every turn.
    "docs_minhash_admission_split" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") % 7 === 3)
      val r = docs.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val thr = (r.getLong(0) + r.getLong(1)) / 2
      val store = scratchDir(s, "mhadmsp") // fresh per invocation
      // tailFoldFiles = 0 folds every turn so the byte budget sees L1
      // growth immediately
      val a1 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") <= thr), store, "doc_id", "text",
        nBuckets = 4, tailFoldFiles = 0,
        maxBucketBytes = 1L, maxSplitsPerTurn = 2)
        .select(col("doc_id"), lit(1L).as("batch"))
      val a2 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") > thr), store, "doc_id", "text",
        nBuckets = 4)
        .select(col("doc_id"), lit(2L).as("batch"))
      val out = a1.unionAll(a2)
      val stats = Dedup.admissionStoreStats(s, store)
      require(stats.maxDepth > 0 && stats.splitBuckets > 0,
        s"docs_minhash_admission_split is vacuous: no split ran " +
          s"(maxDepth=${stats.maxDepth}, splitBuckets=${stats.splitBuckets})")
      out
    }),

    // The admission-store DELETION path, batch-equivalent: admit the
    // low id half, take down every low-half doc with doc_id % 5 == 2
    // (content-keyed removal — only the touched buckets are
    // rewritten; removing a never-admitted doc is a no-op since its
    // keys were never stored), then admit the high half against the
    // pruned store. Batch-2 admissions therefore see a store that
    // FORGOT the removed docs — a high-half near-dup whose only
    // collision was with a removed doc is admitted here but rejected
    // in docs_minhash_admission (non-vacuity checked at registration
    // time of this row). Re-proves every round that takedown reaches
    // the admission stores, not just the ANN artifacts.
    "docs_minhash_admission_removed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val r = docs.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val thr = (r.getLong(0) + r.getLong(1)) / 2
      val store = scratchDir(s, "mhadmrm") // fresh per invocation
      val a1 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") <= thr), store, "doc_id", "text")
        .select(col("doc_id"), lit(1L).as("batch"))
      Dedup.nearDupRemove(
        docs.filter(col("doc_id") <= thr && col("doc_id") % 5 === 2),
        store, "doc_id", "text")
      val a2 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") > thr), store, "doc_id", "text")
        .select(col("doc_id"), lit(2L).as("batch"))
      a1.unionAll(a2)
    }),

    // WINDOWED admission (retention-bounded dedup — "suppress against
    // the last N days" at an endless ingest): three fixed id-third
    // batches with deterministic admission stamps 1000/2000/3000;
    // batch 3 runs with suppressSince=1500, so batch-1 keys no longer
    // suppress it while batch-2 keys still do. Mirrors in SQL as the
    // same sequential admission with batch 3's store side restricted
    // to batch-2 survivors. Re-proves the query-time window path
    // (adm_ts filter on both store levels) through the hash gate
    // every round.
    "docs_minhash_admission_windowed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val r = docs.agg(min(col("doc_id")).cast("long"),
        max(col("doc_id")).cast("long")).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val t1 = lo + (hi - lo) / 3
      val t2 = lo + 2 * (hi - lo) / 3
      val store = scratchDir(s, "mhadmw") // fresh per invocation
      val a1 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") <= t1), store, "doc_id", "text",
        admittedAt = 1000L)
        .select(col("doc_id"), lit(1L).as("batch"))
      val a2 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") > t1 && col("doc_id") <= t2), store,
        "doc_id", "text", admittedAt = 2000L)
        .select(col("doc_id"), lit(2L).as("batch"))
      val a3 = Dedup.nearDupFilterBatch(
        docs.filter(col("doc_id") > t2), store, "doc_id", "text",
        admittedAt = 3000L, suppressSince = 1500L)
        .select(col("doc_id"), lit(3L).as("batch"))
      a1.unionAll(a2).unionAll(a3)
    }),

    // SemDeDup: coarse-quantizer cells + within-cell cosine pruning —
    // semantic (embedding-space) deduplication that lexical sketches
    // cannot see. Threshold 0.4 suits the synthetic corpus (max
    // pairwise cosine ≈ 0.51); real embedding spaces use ~0.95+.
    "embed_semdedup" -> ((s, d) =>
      Similarity.semDedup(t(s, d, "embeddings"), nCells = 16,
        threshold = 0.4)),

    // IVF ANN path (coarse-quantizer cells + probe; rows-only —
    // recall vs brute force is ScalaTest'd).
    "embed_topk_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8), 5,
        nCells = 16, nProbe = 4)
    }),

    // Same ANN search through the PERSISTED index: build once
    // (write-once at scale — repeat calls reuse the stored index, so
    // the benchmark times the probe, which is the steady-state cost),
    // then a partition-pruned probe. Shares embed_topk_ivf's oracle —
    // the two physical paths must agree bit-for-bit. The cache path is
    // keyed by source-data content (file sizes + mtimes) AND a code
    // version suffix, so regenerated testdata or a quantizer change
    // can never serve a stale index.
    "embed_topk_ivf_indexed" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      ivfIndexFixture(s, d, emb).topK(s, emb.filter(col("vec_id") < 8),
        5, nProbe = 4)
    }),

    // Recall@5 of each approximate ANN path against the exact
    // brute-force top-5 — the tripwire a hash-checked-on-fixtures
    // approximate query can't be: a future index change (quantizer,
    // bucketing, the append/compact paths) that silently loses
    // neighbors moves these numbers even when its output stays
    // plausible. Deterministic (fixed hyperplanes / seed cells / query
    // set), so the recall values themselves are oracle-mirrored in
    // DuckDB from the same per-path SQL mirrors.
    "embed_recall_ann" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      // the 8-query frame feeds all five legs (two driver collects,
      // two broadcast builds, a bucket join) — materialize it once so
      // each leg reads 8 local rows instead of re-scanning the
      // embeddings parquet behind a pushed filter (§2.4 shared
      // subtrees; bounded by construction, unlike the corpus)
      val qs = emb.filter(col("vec_id") < 8).localCheckpoint(true)
      // every shared artifact comes from the memoized fixtures (ground
      // truth, persisted IVF index, PQ codebooks, coarse quantizer,
      // SQ8 codes) — so the tripwire measures each path's
      // probe+compare, not five pipeline rebuilds; reuse is
      // bit-identical by construction (each fixture is the same
      // builder run once), so the recall values cannot move
      val (exact, total) = recallExactFixture(s, d)
      def leg(method: String, approx: DataFrame): DataFrame =
        approx.select(col("query_id"), col("neighbor_id"))
          // exact is |queries|·k rows (40 here) behind a checkpoint
          // with no stats — unhinted each leg sort-merged (r20 plan
          // audit: 10 SMJ + 20 Exchange across the five legs → 0)
          .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(method).as("method"), col("hits"),
            lit(total).as("total"),
            Hashing.portableRound(
              col("hits").cast("double") / lit(total.toDouble), 4)
              .as("recall"))
      leg("ivf", ivfIndexFixture(s, d, emb).topK(s, qs, 5, nProbe = 4))
        .unionAll(leg("lsh",
          Similarity.lshBucketedTopK(emb, qs, 5, planes = 4, dims = 64)))
        .unionAll(leg("ivfpq",
          Similarity.ivfPqTopK(emb, qs, 5, nCells = 16, nProbe = 4,
            m = 8, nCodes = 16, rerank = 40,
            codebook = Some(pqModelFixture(s, d, 8, 16, 1)),
            quantized = Some(ivfQuantFixture(s, d)),
            codes = Some(pqCodesFixture(s, d, 8, 16, 1, withCell = true)))))
        .unionAll(leg("pq",
          Similarity.pqTopK(emb, qs, 5, m = 8, nCodes = 16, rerank = 40,
            codebook = Some(pqModelFixture(s, d, 8, 16, 1)),
            codes = Some(pqCodesFixture(s, d, 8, 16, 1, withCell = false)))))
        .unionAll(leg("sq8", Similarity.sq8TopK(emb, qs, 5, rerank = 20,
          codes = Some(sq8CodesFixture(s, d)))))
    }),

    // Per-label centroid + distance of each vector to its own
    // centroid: positional explode → per-(label,dim) mean → join back.
    "embed_label_centroid_dist" -> ((s, d) => {
      val exp = t(s, d, "embeddings").select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      val cent = exp.groupBy(col("label"), col("dim"))
        .agg(avg(col("v")).as("c"))
      exp.join(cent, Seq("label", "dim"))
        .groupBy(col("vec_id"), col("label"))
        .agg(Hashing.portableRound(
          sqrt(sum((col("v") - col("c")) * (col("v") - col("c")))), 6)
          .as("dist_to_centroid"))
    }),

    // ---------- north star: multimodal columns ----------
    "multimodal_stats" -> ((s, d) =>
      Multimodal.mediaStats(
        Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text",
          "text/plain"))),

    // Frame sampling over binary payloads (columnar slicing, no UDF).
    "multimodal_frames" -> ((s, d) =>
      Multimodal.frames(
        Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text",
          "text/plain"), 64)
        .filter(col("frame_idx") < 3)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))),

    // Batched kernel plumbing. The decode is still a labeled stub, but
    // its integer-accumulating body is bit-reproducible, so the entire
    // mapPartitions path (schema, batching, null handling, kernel) is
    // oracle-checked: feat0/feat7 are the first/last feature dims.
    "multimodal_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text",
          "text/plain"))
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          element_at(col("feature"), 1).cast("double").as("feat0"),
          element_at(col("feature"), 8).cast("double").as("feat7"))),

    // REAL image decode, end to end: encode closed-form calibration
    // pixels to actual PNG bytes on executors, decode them back
    // through javax.imageio, and emit exact-integer pixel statistics.
    // The oracle recomputes the statistics from the pixel formula —
    // PNG losslessness is what the hash match proves.
    "multimodal_image_decode" -> ((s, d) =>
      Multimodal.decodeImageFeatures(
        Multimodal.pngMediaTable(
          t(s, d, "documents").select(col("doc_id")), "doc_id", 16, 16))
        .select(col("doc_id"), col("width"), col("height"), col("lum_sum"),
          element_at(col("lum_hist"), 1).as("h0"),
          element_at(col("lum_hist"), 4).as("h3"),
          element_at(col("lum_hist"), 8).as("h7"))),

    // REAL audio decode: calibration clips encoded to RIFF/WAVE and
    // decoded back through javax.sound.sampled; WAV PCM is lossless,
    // so the oracle recomputes the amplitude stats from the
    // closed-form sample formula — same proof shape as the PNG kernel.
    "multimodal_audio_decode" -> ((s, d) =>
      Multimodal.decodeAudioFeatures(
        Multimodal.wavMediaTable(
          t(s, d, "documents").select(col("doc_id")), "doc_id", 256, 8000))
        .select(col("doc_id"), col("n_samples"), col("sample_rate"),
          col("amp_sum"),
          element_at(col("amp_hist"), 1).as("a0"),
          element_at(col("amp_hist"), 5).as("a4"),
          element_at(col("amp_hist"), 8).as("a7")))
  )

  // ----------------------------------------------------------------
  // DuckDB oracles
  // ----------------------------------------------------------------

  /** The sequential two-batch minhash admission reference — shared by
    * `docs_minhash_admission` and `docs_minhash_admission_rebucket`:
    * the L1 bucket layout (and therefore a [[Dedup.rebucketAdmitted]]
    * migration between the batches) is engine-internal and must be
    * decision-invisible, so both rows pin the SAME SQL.
    */
  private lazy val minhashAdmissionOracleSql: String =
    s"""WITH $bandsCte,
       |mid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m
       |  FROM documents),
       |k1 AS (SELECT b.* FROM bands b, mid WHERE b.doc_id <= mid.m),
       |k2 AS (SELECT b.* FROM bands b, mid WHERE b.doc_id > mid.m),
       |d1 AS (SELECT DISTINCT l.doc_id FROM k1 l JOIN k1 r
       |  ON r.band = l.band AND r.band_key = l.band_key
       |    AND r.doc_id < l.doc_id),
       |adm1 AS (SELECT doc.doc_id FROM documents doc, mid
       |  WHERE doc.doc_id <= mid.m
       |    AND doc.doc_id NOT IN (SELECT doc_id FROM d1)),
       |sk1 AS (SELECT k.* FROM k1 k JOIN adm1 a USING (doc_id)),
       |d2 AS (SELECT DISTINCT l.doc_id FROM k2 l
       |  WHERE EXISTS (SELECT 1 FROM sk1 s
       |    WHERE s.band = l.band AND s.band_key = l.band_key
       |      AND s.doc_id <> l.doc_id)
       |   OR EXISTS (SELECT 1 FROM k2 r
       |    WHERE r.band = l.band AND r.band_key = l.band_key
       |      AND r.doc_id < l.doc_id)),
       |adm2 AS (SELECT doc.doc_id FROM documents doc, mid
       |  WHERE doc.doc_id > mid.m
       |    AND doc.doc_id NOT IN (SELECT doc_id FROM d2))
       |SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM adm1
       |UNION ALL
       |SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM adm2""".stripMargin

  /** The sequential-admission mirror over the split proof row's fixed
    * 1/7 id slice — structurally [[minhashAdmissionOracleSql]] with
    * every `documents` reference rebased onto the slice CTE (the
    * bands chain reads documents exactly once, in `toks`).
    */
  private lazy val minhashAdmissionSplitOracleSql: String = {
    require(bandsCte.sliding("FROM documents".length)
      .count(_ == "FROM documents") == 1,
      "bands CTE chain no longer reads documents exactly once — " +
        "re-derive the sliced admission oracle")
    val slicedBands = bandsCte.replace("FROM documents", "FROM docs_slice")
    s"""WITH docs_slice AS (SELECT * FROM documents WHERE doc_id % 7 = 3),
       |$slicedBands,
       |mid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m
       |  FROM docs_slice),
       |k1 AS (SELECT b.* FROM bands b, mid WHERE b.doc_id <= mid.m),
       |k2 AS (SELECT b.* FROM bands b, mid WHERE b.doc_id > mid.m),
       |d1 AS (SELECT DISTINCT l.doc_id FROM k1 l JOIN k1 r
       |  ON r.band = l.band AND r.band_key = l.band_key
       |    AND r.doc_id < l.doc_id),
       |adm1 AS (SELECT doc.doc_id FROM docs_slice doc, mid
       |  WHERE doc.doc_id <= mid.m
       |    AND doc.doc_id NOT IN (SELECT doc_id FROM d1)),
       |sk1 AS (SELECT k.* FROM k1 k JOIN adm1 a USING (doc_id)),
       |d2 AS (SELECT DISTINCT l.doc_id FROM k2 l
       |  WHERE EXISTS (SELECT 1 FROM sk1 s
       |    WHERE s.band = l.band AND s.band_key = l.band_key
       |      AND s.doc_id <> l.doc_id)
       |   OR EXISTS (SELECT 1 FROM k2 r
       |    WHERE r.band = l.band AND r.band_key = l.band_key
       |      AND r.doc_id < l.doc_id)),
       |adm2 AS (SELECT doc.doc_id FROM docs_slice doc, mid
       |  WHERE doc.doc_id > mid.m
       |    AND doc.doc_id NOT IN (SELECT doc_id FROM d2))
       |SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM adm1
       |UNION ALL
       |SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM adm2""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "p1_bronze_cast" ->
      """SELECT CAST(event_id AS VARCHAR) AS event_key, props AS raw_json_data,
        | ts AS ingest_ts FROM events""".stripMargin,

    "p3_json_parse" ->
      """SELECT event_id, CAST(props->>'k' AS BIGINT) AS k
        |FROM events WHERE props IS NOT NULL""".stripMargin,

    "props_map_explode" ->
      """SELECT event_id, 'k' AS key, CAST(props->>'k' AS BIGINT) AS value
        |FROM events WHERE props IS NOT NULL""".stripMargin,

    "p5_derive" ->
      """SELECT event_id,
        | CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS secs_into_day,
        | (value > 300 AND (CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)) < 43200) AS is_flagged
        |FROM events""".stripMargin,

    "silver_clean_filter" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
        | AND value IS NOT NULL AND event_type IS NOT NULL
        | AND value >= 0 AND user_id >= 0""".stripMargin,

    "gold_hourly" -> goldHourlySql,

    "verify_recent" ->
      s"SELECT * FROM ($goldHourlySql) ORDER BY window_end DESC, user_id LIMIT 100",

    "verify_point" ->
      s"""SELECT * FROM ($goldHourlySql)
         |WHERE window_start = TIMESTAMP '2024-01-15 11:00:00'
         | AND user_id BETWEEN 1 AND 100000""".stripMargin,

    "verify_reagg" ->
      s"""SELECT window_start, COUNT(DISTINCT user_id) AS active_users,
         | CAST(SUM(total_events_hourly) AS BIGINT) AS total_events,
         | CAST(SUM(total_error_events_hourly) AS BIGINT) AS total_errors
         |FROM ($goldHourlySql) GROUP BY 1""".stripMargin,

    "gold_count" -> s"SELECT COUNT(*) AS n_rows FROM ($goldHourlySql)",

    "gold_upsert_batch" -> {
      val base = s"SELECT * FROM ($goldHourlySql) WHERE window_start < TIMESTAMP '2024-01-20 00:00:00'"
      // NB: base/updates are defined by filtering the EVENTS before
      // aggregating, matching the Spark side.
      val baseEv =
        s"""SELECT date_trunc('hour', ts) AS window_start,
           | date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end, user_id,
           | COUNT(event_id) AS total_events_hourly,
           | ROUND(AVG(value), 2) AS avg_value_hourly,
           | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS total_error_events_hourly
           |FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00' GROUP BY 1,2,3""".stripMargin
      val updEv = baseEv.replace("ts < TIMESTAMP '2024-01-20 00:00:00'",
        "ts >= TIMESTAMP '2024-01-10 00:00:00'")
      s"""WITH base AS ($baseEv), upd AS ($updEv)
         |SELECT
         | COALESCE(u.window_start, b.window_start) AS window_start,
         | COALESCE(u.window_end, b.window_end) AS window_end,
         | COALESCE(u.user_id, b.user_id) AS user_id,
         | CASE WHEN u.window_start IS NOT NULL THEN u.total_events_hourly ELSE b.total_events_hourly END AS total_events_hourly,
         | CASE WHEN u.window_start IS NOT NULL THEN u.avg_value_hourly ELSE b.avg_value_hourly END AS avg_value_hourly,
         | CASE WHEN u.window_start IS NOT NULL THEN u.total_error_events_hourly ELSE b.total_error_events_hourly END AS total_error_events_hourly
         |FROM base b FULL OUTER JOIN upd u
         | ON b.window_start = u.window_start AND b.window_end = u.window_end
         | AND b.user_id = u.user_id""".stripMargin
    },

    "dedup_exact_distinct" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    // The maintained view's oracle is a RECOMPUTE over the post-feed
    // base: the fixture's update (+7 to every doc_id % 10 == 3) and
    // delete (doc_id % 10 == 4) are deterministic row-local edits of
    // `documents`, so the final table is expressible as CASE/WHERE —
    // a hash match proves advance ≡ recompute through the sink + CDC
    // feed. Sums are DOUBLE by the maintained-view contract
    // (integer-valued, so exact on both engines).
    "incr_agg_sums" ->
      """SELECT source, COUNT(*) AS n_docs,
        | SUM(CAST(n_chars + CASE WHEN doc_id % 10 = 3 THEN 7 ELSE 0 END AS DOUBLE)) AS sum_chars
        |FROM documents WHERE doc_id % 10 <> 4
        |GROUP BY source""".stripMargin,

    // k-means mirror: every iteration's carried centroid state is
    // ROUND(...,6)-quantized on BOTH engines, so the three assignment
    // rounds see bit-identical operands; struct_pack max ≡ Spark's
    // max(struct(sim, cell)) lexicographic tiebreak.
    "embed_topic_mix" ->
      s"""WITH $kmeansCtes,
        |agg AS (SELECT (w).c AS topic, COUNT(*) AS n_vecs,
        |  ROUND(AVG((w).s), 6) AS cohesion FROM a3 GROUP BY 1)
        |SELECT topic, n_vecs, cohesion,
        | ROUND(SUM(n_vecs) OVER () / (COUNT(*) OVER () * n_vecs), 6) AS weight
        |FROM agg""".stripMargin,

    // topic-balanced sampling: the kmeans chain feeding the
    // Efraimidis-Spirakis weighted rank, partitioned by TOPIC
    "docs_topic_sample" -> {
      val tk = toksSql("text")
      val all = (Text.enMarkers ++ Text.frMarkers ++ Text.esMarkers)
        .distinct.map(m => s"'$m'").mkString(", ")
      s"""WITH $kmeansCtes,
         |topics AS (SELECT cid AS doc_id, (w).c AS topic FROM a3),
         |base AS (SELECT doc_id, text, $tk AS tk FROM documents),
         |m AS (SELECT doc_id,
         |  len(tk) AS n_tokens,
         |  CASE WHEN len(tk) > 0 THEN
         |    len(list_filter(tk, t -> t IN ($all)))::DOUBLE / len(tk)::DOUBLE
         |   ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN length(text) > 0 THEN
         |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)::DOUBLE
         |   ELSE 0.0 END AS p_ratio
         | FROM base),
         |sc AS (SELECT doc_id,
         |  ROUND(least(coalesce(n_tokens, 0)::DOUBLE / 100.0, 1.0) * 0.5
         |   + least(stop_ratio * 5.0, 1.0) * 0.3
         |   + (1.0 - least(p_ratio * 5.0, 1.0)) * 0.2, 6) AS w
         | FROM m),
         |ks AS (SELECT doc_id,
         |  ROUND(ln((${h60Sql("CAST(doc_id AS VARCHAR)")} + 1)::DOUBLE
         |    / 1152921504606846976.0) / w, 6) AS skey
         | FROM sc WHERE w > 0),
         |j AS (SELECT t.topic, k.doc_id, k.skey
         |  FROM ks k JOIN topics t ON t.doc_id = k.doc_id)
         |SELECT topic, rk, doc_id, skey FROM (
         | SELECT topic, doc_id, skey,
         |  CAST(row_number() OVER (PARTITION BY topic
         |    ORDER BY skey DESC, doc_id) AS BIGINT) AS rk
         | FROM j) WHERE rk <= 3""".stripMargin
    },

    // The skip-scan fixture is a verbatim snapshot of `documents`
    // (narrow projection, rearranged by the z-order compaction —
    // row-set-identical), so the oracle is the same predicate over
    // the base table.
    "upsert_scan_prune" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE (doc_id < 200 AND n_chars BETWEEN 150 AND 400)
        |   OR doc_id = 450""".stripMargin,

    // the bloom fixture is a verbatim snapshot of the same narrow
    // projection (re-clustered by the compaction — row-set-identical),
    // so the oracle is the same point predicate over the base table
    "upsert_point_prune" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE doc_id = 450 OR doc_id IN (123, 99999999)""".stripMargin,

    // the partitioned bloom fixture is a verbatim snapshot re-laid-out
    // per directory — row-set-identical, so the oracle is the same
    // point predicate over the base table
    "upsert_point_prune_part" ->
      """SELECT doc_id, source, n_chars, lang FROM documents
        |WHERE doc_id IN (450, 123, 99999999)
        |   OR (lang = 'en' AND doc_id = 777)""".stripMargin,

    // state AS OF v1: update applied to the mod-9 slice, inserts
    // (re-keyed by +16830000, a multiple of 9*11*17) present, the
    // mod-11 delete not yet applied
    "part_history_travel" ->
      """SELECT doc_id, source, lang,
        | n_chars + CASE WHEN doc_id % 9 = 2 THEN 5 ELSE 0 END AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 16830000 AS doc_id, source, lang, n_chars
        |FROM documents WHERE doc_id % 17 = 3""".stripMargin,

    // restore(0) must reproduce the v0 snapshot exactly — the
    // untouched base projection
    "part_history_restore" ->
      "SELECT doc_id, source, lang, n_chars FROM documents",

    // endpoint diff v0 → v2: inserts that survived the delete,
    // updates (both images) on rows that survived it, deletes with
    // their v0 image; insert-then-deleted rows appear in NEITHER
    // endpoint and so nowhere in the feed
    "part_changefeed" ->
      """SELECT doc_id + 16830000 AS doc_id, source, lang, n_chars,
        | 'insert' AS _change_type
        |FROM documents WHERE doc_id % 17 = 3 AND doc_id % 11 <> 7
        |UNION ALL
        |SELECT doc_id, source, lang, n_chars + 5 AS n_chars,
        | 'update_postimage' AS _change_type
        |FROM documents WHERE doc_id % 9 = 2 AND doc_id % 11 <> 7
        |UNION ALL
        |SELECT doc_id, source, lang, n_chars,
        | 'update_preimage' AS _change_type
        |FROM documents WHERE doc_id % 9 = 2 AND doc_id % 11 <> 7
        |UNION ALL
        |SELECT doc_id, source, lang, n_chars,
        | 'delete' AS _change_type
        |FROM documents WHERE doc_id % 11 = 7""".stripMargin,

    // the partitioned fixture is a verbatim snapshot re-laid-out by
    // the per-partition z-order compaction — row-set-identical
    "upsert_scan_prune_part" ->
      """SELECT doc_id, source, n_chars, lang FROM documents
        |WHERE lang = 'en' AND (doc_id < 300 OR n_chars > 450)""".stripMargin,

    // the join-prune fixture is a verbatim orders snapshot
    // (re-clustered — row-set-identical), so the oracle is the plain
    // semi-join + aggregate over the base tables
    "upsert_join_prune" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        | ROUND(SUM(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_nationkey <= 2)
        |GROUP BY o_custkey""".stripMargin,

    // distinct-count maintenance: recompute over the post-feed base —
    // the update shifts every (doc_id % 9 = 2) row's n_chars by +5,
    // the delete drops every (doc_id % 11 = 7) row
    "incr_agg_distinct" ->
      """SELECT source,
        | COUNT(DISTINCT n_chars + CASE WHEN doc_id % 9 = 2 THEN 5 ELSE 0 END) AS n_distinct
        |FROM documents WHERE doc_id % 11 <> 7
        |GROUP BY source""".stripMargin,

    "incr_agg_minmax" ->
      """SELECT source, COUNT(*) AS n_docs,
        | MIN(CAST(n_chars + CASE WHEN doc_id % 7 = 0 THEN 11 ELSE 0 END AS DOUBLE)) AS min_chars,
        | MAX(CAST(n_chars + CASE WHEN doc_id % 7 = 0 THEN 11 ELSE 0 END AS DOUBLE)) AS max_chars
        |FROM documents WHERE doc_id % 13 <> 5
        |GROUP BY source""".stripMargin,

    // Full medallion pipeline over the persisted bronze fixture:
    // parse (json_valid ≡ Spark's parse-then-7-term-drop for this
    // corpus: a 40-char truncation always cuts before fare and
    // event_timestamp, so malformed rows die in the clean filter on
    // either engine) → derive → clean → deterministic dedup → flag →
    // hourly gold. ROUND(double) is what portableRound reproduces.
    "rides_e2e" ->
      s"""WITH bronze AS (
         |  SELECT CAST(value AS VARCHAR) AS raw_json_data
         |  FROM read_parquet('$ridesBronzeFixture/*.parquet')
         |), parsed AS (
         |  SELECT
         |   raw_json_data->>'$$.ride_id' AS ride_id,
         |   raw_json_data->>'$$.driver_id' AS driver_id,
         |   raw_json_data->>'$$.passenger_id' AS passenger_id,
         |   strptime(raw_json_data->>'$$.start_time', '%Y-%m-%dT%H:%M:%SZ') AS start_time,
         |   strptime(raw_json_data->>'$$.end_time', '%Y-%m-%dT%H:%M:%SZ') AS end_time,
         |   CAST(raw_json_data->>'$$.fare' AS DOUBLE) AS fare,
         |   raw_json_data->>'$$.status' AS status,
         |   strptime(raw_json_data->>'$$.event_timestamp', '%Y-%m-%dT%H:%M:%SZ') AS event_timestamp
         |  FROM bronze WHERE json_valid(raw_json_data)
         |), derived AS (
         |  SELECT *,
         |   CAST(floor(epoch(end_time)) AS BIGINT) - CAST(floor(epoch(start_time)) AS BIGINT) AS trip_duration_seconds,
         |   ROUND((${h60Sql("ride_id")} % 2000) / 100.0, 2) AS trip_distance_km
         |  FROM parsed
         |), cleaned AS (
         |  SELECT * FROM derived
         |  WHERE ride_id IS NOT NULL AND driver_id IS NOT NULL
         |   AND event_timestamp IS NOT NULL AND fare IS NOT NULL
         |   AND trip_duration_seconds IS NOT NULL
         |   AND fare >= 0 AND trip_duration_seconds >= 0
         |), dedup AS (
         |  SELECT * FROM cleaned
         |  QUALIFY row_number() OVER (
         |   PARTITION BY ride_id, event_timestamp
         |   ORDER BY start_time, end_time, fare, status, passenger_id, driver_id) = 1
         |), flagged AS (
         |  SELECT *, (trip_duration_seconds < 120 AND fare > 300) AS is_suspicious
         |  FROM dedup
         |)
         |SELECT date_trunc('hour', event_timestamp) AS window_start,
         | date_trunc('hour', event_timestamp) + INTERVAL 1 HOUR AS window_end,
         | driver_id,
         | COUNT(ride_id) AS total_rides_hourly,
         | ROUND((CAST(SUM(CAST(round(fare * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)
         |   / COUNT(ride_id), 2) AS avg_fare_hourly,
         | CAST(SUM(CASE WHEN is_suspicious THEN 1 ELSE 0 END) AS BIGINT) AS total_suspicious_rides_hourly
         |FROM flagged GROUP BY 1, 2, 3""".stripMargin,

    "events_gapfill_1h" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |  date_trunc('hour', max(ts)) AS hi FROM events),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
        |hc AS (SELECT date_trunc('hour', ts) AS hour,
        |  COUNT(*) AS n FROM events GROUP BY 1)
        |SELECT spine.hour, CAST(COALESCE(hc.n, 0) AS BIGINT) AS n_events
        |FROM spine LEFT JOIN hc USING (hour)""".stripMargin,

    "session_windows_30m" ->
      """WITH g AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |   THEN 1 ELSE 0 END AS ns
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |  SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
        |   ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT MIN(ts) AS session_start,
        | MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        | user_id, COUNT(*) AS n_events,
        | ROUND(SUM(value), 2) AS session_value
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "rollup_daily" ->
      """SELECT event_type, day, COUNT(*) AS n_events,
        | ROUND(SUM(value), 2) AS total_value
        |FROM (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
        |GROUP BY ROLLUP(event_type, day)""".stripMargin,

    "cube_docs" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY CUBE(lang, source)""".stripMargin,

    "set_ops_users" ->
      """(SELECT user_id FROM events WHERE event_type = 'click'
        | UNION
        | SELECT user_id FROM events WHERE event_type = 'view')
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error'
        | AND ts < TIMESTAMP '2024-01-02 00:00:00'""".stripMargin,

    "range_join_pairs" ->
      """SELECT a.user_id, COUNT(*) AS n_pairs
        |FROM events a JOIN events b
        | ON a.user_id = b.user_id AND b.ts > a.ts
        | AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |GROUP BY a.user_id""".stripMargin,

    "pivot_user_events" ->
      """SELECT user_id,
        | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "events_anomaly_zscore" ->
      """WITH stats AS (SELECT event_type, AVG(value) AS mu,
        |  stddev_samp(value) AS sd FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value,
        | ROUND((value - mu) / sd, 4) AS zscore
        |FROM events JOIN stats USING (event_type)
        |WHERE sd > 0 AND abs(ROUND((value - mu) / sd, 4)) >= 1.5""".stripMargin,

    "events_retention" ->
      """WITH cohorts AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
        | FROM events GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT cohort_date,
        | CAST(date_diff('day', cohort_date, day) AS BIGINT) AS day_offset,
        | COUNT(DISTINCT user_id)::BIGINT AS n_users
        |FROM cohorts JOIN active USING (user_id)
        |GROUP BY cohort_date, day_offset""".stripMargin,

    "events_funnel" ->
      """WITH w1 AS (SELECT user_id, ts, event_type,
        |  MIN(CASE WHEN event_type = 'view' THEN ts END)
        |   OVER (PARTITION BY user_id) AS v FROM events),
        |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= v
        |    AND ts <= v + INTERVAL 24 HOUR THEN ts END)
        |   OVER (PARTITION BY user_id) AS c FROM w1),
        |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= c
        |    AND ts <= c + INTERVAL 24 HOUR THEN ts END)
        |   OVER (PARTITION BY user_id) AS p FROM w2),
        |u AS (SELECT DISTINCT user_id,
        |  CAST(CASE WHEN p IS NOT NULL THEN 3 WHEN c IS NOT NULL THEN 2
        |       WHEN v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_stage FROM w3)
        |SELECT funnel_stage, COUNT(*)::BIGINT AS n_users
        |FROM u GROUP BY funnel_stage""".stripMargin,

    "value_percentiles" ->
      """SELECT event_type,
        | ROUND(quantile_cont(value, 0.5), 4) AS p50,
        | ROUND(quantile_cont(value, 0.9), 4) AS p90,
        | ROUND(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type""".stripMargin,

    "approx_distinct_users" ->
      s"""SELECT event_type,
         | CAST(COUNT(DISTINCT user_id) * 4 AS BIGINT) AS approx_users
         |FROM events WHERE ${h60Sql("CAST(user_id AS VARCHAR)")} % 4 = 0
         |GROUP BY event_type""".stripMargin,

    // The sketch rows certify their error BOUND, not the estimate:
    // the oracle recomputes the exact side and asserts TRUE for
    // within_bound — any sketch drifting past its contract (10% /
    // 5% relative) flips the Spark-side boolean and hash-fails.
    "approx_distinct_users_sketch" ->
      """SELECT event_type,
        | COUNT(DISTINCT user_id) AS exact_users,
        | TRUE AS within_bound
        |FROM events GROUP BY event_type""".stripMargin,

    "approx_percentiles_sketch" ->
      """SELECT event_type,
        | ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
        | TRUE AS within_bound
        |FROM events GROUP BY event_type""".stripMargin,

    "approx_percentiles" ->
      s"""SELECT event_type,
         | ROUND(quantile_cont(value, 0.5), 4) AS p50_approx
         |FROM events WHERE ${h60Sql("CAST(event_id AS VARCHAR)")} % 4 = 0
         |GROUP BY event_type""".stripMargin,

    // MG sketch row: the oracle recomputes the exact top-10 and
    // asserts TRUE for the two deterministic MG guarantees (presence
    // + n/(k+1) bound) — a sketch regression flips a boolean and
    // hash-fails even though the estimates themselves are
    // partition-dependent.
    "approx_top_tokens_sketch" ->
      s"""WITH $toksCte,
         |w AS (SELECT doc_id, unnest(tk) AS token FROM toks)
         |SELECT token, COUNT(*) AS exact_cnt,
         | TRUE AS present, TRUE AS within_bound
         |FROM w GROUP BY token
         |ORDER BY exact_cnt DESC, token ASC LIMIT 10""".stripMargin,

    "approx_top_tokens" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${toksSql("text")} AS tk FROM documents
         |  WHERE ${h60Sql("CAST(doc_id AS VARCHAR)")} % 4 = 0),
         |w AS (SELECT doc_id, unnest(tk) AS token FROM toks)
         |SELECT token, CAST(COUNT(*) * 4 AS BIGINT) AS approx_occurrences
         |FROM w GROUP BY token
         |ORDER BY approx_occurrences DESC, token ASC LIMIT 10""".stripMargin,

    "value_moments" ->
      """SELECT event_type,
        | ROUND(stddev_samp(value), 4) AS sd,
        | ROUND(var_samp(value), 4) AS variance,
        | ROUND(corr(value, user_id::DOUBLE), 4) AS corr_value_user
        |FROM events GROUP BY event_type""".stripMargin,

    "word_freq" -> {
      s"""WITH $toksCte,
         |w AS (SELECT doc_id, unnest(tk) AS word FROM toks)
         |SELECT word, COUNT(*) AS occurrences,
         | COUNT(DISTINCT doc_id) AS n_docs
         |FROM w GROUP BY word""".stripMargin
    },

    "asof_join_orders" ->
      """SELECT e.event_id, e.user_id, o.last_orderkey
        |FROM events e LEFT JOIN LATERAL (
        | SELECT o_orderkey AS last_orderkey FROM orders o
        | WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        | ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1
        |) o ON true""".stripMargin,

    "embed_label_centroid_dist" ->
      """WITH exp AS (SELECT label, vec_id,
        |  generate_subscripts(embedding, 1) AS dim,
        |  unnest(embedding::DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT label, dim, AVG(v) AS c FROM exp GROUP BY 1, 2)
        |SELECT vec_id, e.label,
        | ROUND(sqrt(SUM((v - c) * (v - c))), 6) AS dist_to_centroid
        |FROM exp e JOIN cent USING (label, dim)
        |GROUP BY vec_id, e.label""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | ROUND(SUM(l_quantity), 2) AS sum_qty,
        | ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        | ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | ROUND(AVG(l_quantity), 4) AS avg_qty,
        | ROUND(AVG(l_discount), 4) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate,
        | ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        | AND l_orderkey = o_orderkey
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        | ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name""".stripMargin,

    "bucketed_join_priority" ->
      """SELECT o_orderpriority,
        | ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,

    "above_avg_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (
        | SELECT FLOOR(1.5 * AVG(o2.o_totalprice) * 100 + 0.5) / 100
        | FROM orders o2
        | WHERE o2.o_custkey = o.o_custkey)""".stripMargin,

    "semi_join_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        | WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""".stripMargin,

    "anti_join_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        | WHERE l.l_orderkey = o.o_orderkey)""".stripMargin,

    "left_outer_fill" ->
      """SELECT o_orderkey,
        | COALESCE(n_items, 0) AS n_items,
        | COALESCE(total_qty, 0.0) AS total_qty
        |FROM orders LEFT JOIN (
        | SELECT l_orderkey, COUNT(*) AS n_items,
        |  ROUND(SUM(l_quantity), 2) AS total_qty
        | FROM lineitem GROUP BY l_orderkey
        |) li ON o_orderkey = li.l_orderkey""".stripMargin,

    "full_outer_extremes" ->
      """SELECT COALESCE(c.k, o.k) AS k, c.c_name, o.o_orderkey, o.o_totalprice
        |FROM (SELECT c_custkey AS k, c_name FROM customer
        |      WHERE c_acctbal > 9000) c
        |FULL OUTER JOIN (SELECT o_custkey AS k, o_orderkey, o_totalprice
        |      FROM orders WHERE o_totalprice > 400000) o
        | ON c.k = o.k""".stripMargin,

    "window_topn_orders" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders) WHERE rk <= 3""".stripMargin,

    "topk_per_key_custom" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders) WHERE rk <= 3""".stripMargin,

    "docs_curation_filter" -> {
      val tk = toksSql("text")
      val en = Text.enMarkers.map(m => s"'$m'").mkString(", ")
      val fr = Text.frMarkers.map(m => s"'$m'").mkString(", ")
      val es = Text.esMarkers.map(m => s"'$m'").mkString(", ")
      val all = (Text.enMarkers ++ Text.frMarkers ++ Text.esMarkers)
        .distinct.map(m => s"'$m'").mkString(", ")
      s"""WITH base AS (SELECT *, $tk AS tk FROM documents),
         |m AS (SELECT *,
         |  len(list_filter(tk, t -> t IN ($en))) AS cen,
         |  len(list_filter(tk, t -> t IN ($fr))) AS cfr,
         |  len(list_filter(tk, t -> t IN ($es))) AS ces,
         |  CASE WHEN len(tk) > 0 THEN
         |    len(list_filter(tk, t -> t IN ($all)))::DOUBLE / len(tk)::DOUBLE
         |   ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN length(text) > 0 THEN
         |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)::DOUBLE
         |   ELSE 0.0 END AS p_ratio
         | FROM base),
         |q AS (SELECT * FROM m WHERE len(tk) >= 20
         |  AND p_ratio <= 0.1 AND stop_ratio >= 0.05
         |  AND (CASE WHEN cen >= cfr AND cen >= ces AND cen > 0 THEN 'en'
         |            WHEN cfr >= ces AND cfr > 0 THEN 'fr'
         |            WHEN ces > 0 THEN 'es'
         |            ELSE 'und' END) = 'en'),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM q
         |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
         |SELECT q.doc_id, q.source, q.n_chars FROM q JOIN keep USING (doc_id)""".stripMargin
    },

    "docs_curation_v2" -> {
      val en = Text.enMarkers.map(m => s"'$m'").mkString(", ")
      val fr = Text.frMarkers.map(m => s"'$m'").mkString(", ")
      val es = Text.esMarkers.map(m => s"'$m'").mkString(", ")
      val all = (Text.enMarkers ++ Text.frMarkers ++ Text.esMarkers)
        .distinct.map(m => s"'$m'").mkString(", ")
      s"""WITH $dupSpansCte,
         |dagg AS (SELECT doc_id, SUM(span_tokens) AS dup_tokens
         | FROM dspans GROUP BY doc_id),
         |spanok AS (SELECT t.doc_id FROM toks t LEFT JOIN dagg a USING (doc_id)
         | WHERE CASE WHEN len(tk) = 0 THEN 0.0
         |  ELSE COALESCE(a.dup_tokens, 0)::DOUBLE / len(tk)::DOUBLE END <= 0.3),
         |words AS (SELECT doc_id, unnest(tk) AS word FROM toks),
         |freq AS (SELECT word, COUNT(*)::BIGINT AS wn FROM words GROUP BY word),
         |total AS (SELECT SUM(wn)::BIGINT AS tn FROM freq),
         |lmok AS (SELECT doc_id FROM words JOIN freq USING (word), total
         | GROUP BY doc_id
         | HAVING ROUND(AVG(ln(wn::DOUBLE / tn::DOUBLE)), 6) >= -3.41),
         |m AS (SELECT d.*, t.tk,
         |  list_transform(range(greatest(len(t.tk) - 2, 0)),
         |   i -> t.tk[i+1] || ' ' || t.tk[i+2] || ' ' || t.tk[i+3]) AS grams,
         |  len(list_filter(t.tk, x -> x IN ($en))) AS cen,
         |  len(list_filter(t.tk, x -> x IN ($fr))) AS cfr,
         |  len(list_filter(t.tk, x -> x IN ($es))) AS ces,
         |  CASE WHEN len(t.tk) > 0 THEN
         |    len(list_filter(t.tk, x -> x IN ($all)))::DOUBLE / len(t.tk)::DOUBLE
         |   ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN length(d.text) > 0 THEN
         |    (length(d.text) - length(regexp_replace(d.text, '[.,!?;:]', '', 'g')))::DOUBLE / length(d.text)::DOUBLE
         |   ELSE 0.0 END AS p_ratio
         | FROM documents d JOIN toks t USING (doc_id)),
         |q AS (SELECT * FROM m WHERE len(tk) >= 20
         |  AND p_ratio <= 0.1 AND stop_ratio >= 0.05
         |  AND (CASE WHEN cen >= cfr AND cen >= ces AND cen > 0 THEN 'en'
         |            WHEN cfr >= ces AND cfr > 0 THEN 'fr'
         |            WHEN ces > 0 THEN 'es'
         |            ELSE 'und' END) = 'en'
         |  AND (len(grams) = 0 OR
         |   (1.0 - len(list_distinct(grams))::DOUBLE / len(grams)::DOUBLE) <= 0.2)),
         |q2 AS (SELECT q.* FROM q
         |  JOIN lmok USING (doc_id) JOIN spanok USING (doc_id)),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM q2
         |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
         |SELECT q2.doc_id, q2.lang, q2.source FROM q2 JOIN keep USING (doc_id)""".stripMargin
    },

    "docs_sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${h60Sql("CAST(doc_id AS VARCHAR)")} % 100 <
         | (CASE WHEN lang = 'en' THEN 50 WHEN lang = 'fr' THEN 25
         |   ELSE 10 END)""".stripMargin,

    // E-S weighted sample mirror: the quality formula inline, the
    // same integer-space +1 before the (exact, power-of-two) 2^60
    // division, 6-dp rounding before ranking.
    "docs_sample_weighted" -> {
      val tk = toksSql("text")
      val all = (Text.enMarkers ++ Text.frMarkers ++ Text.esMarkers)
        .distinct.map(m => s"'$m'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, lang, text, $tk AS tk FROM documents),
         |m AS (SELECT doc_id, lang,
         |  len(tk) AS n_tokens,
         |  CASE WHEN len(tk) > 0 THEN
         |    len(list_filter(tk, t -> t IN ($all)))::DOUBLE / len(tk)::DOUBLE
         |   ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN length(text) > 0 THEN
         |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)::DOUBLE
         |   ELSE 0.0 END AS p_ratio
         | FROM base),
         |sc AS (SELECT doc_id, lang,
         |  ROUND(least(coalesce(n_tokens, 0)::DOUBLE / 100.0, 1.0) * 0.5
         |   + least(stop_ratio * 5.0, 1.0) * 0.3
         |   + (1.0 - least(p_ratio * 5.0, 1.0)) * 0.2, 6) AS w
         | FROM m),
         |ks AS (SELECT doc_id, lang,
         |  ROUND(ln((${h60Sql("CAST(doc_id AS VARCHAR)")} + 1)::DOUBLE
         |    / 1152921504606846976.0) / w, 6) AS skey
         | FROM sc WHERE w > 0)
         |SELECT lang, rk, doc_id, skey FROM (
         | SELECT lang, doc_id, skey,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY skey DESC, doc_id) AS BIGINT) AS rk
         | FROM ks) WHERE rk <= 5""".stripMargin
    },

    "docs_quality_topk" -> {
      val tk = toksSql("text")
      val all = (Text.enMarkers ++ Text.frMarkers ++ Text.esMarkers)
        .distinct.map(m => s"'$m'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, source, text, $tk AS tk FROM documents),
         |m AS (SELECT doc_id, source,
         |  len(tk) AS n_tokens,
         |  CASE WHEN len(tk) > 0 THEN
         |    len(list_filter(tk, t -> t IN ($all)))::DOUBLE / len(tk)::DOUBLE
         |   ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN length(text) > 0 THEN
         |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)::DOUBLE
         |   ELSE 0.0 END AS p_ratio
         | FROM base),
         |scored AS (SELECT doc_id, source,
         |  ROUND(least(coalesce(n_tokens, 0)::DOUBLE / 100.0, 1.0) * 0.5
         |   + least(stop_ratio * 5.0, 1.0) * 0.3
         |   + (1.0 - least(p_ratio * 5.0, 1.0)) * 0.2, 6) AS quality_score
         | FROM m)
         |SELECT source,
         | row_number() OVER (PARTITION BY source
         |   ORDER BY quality_score DESC, doc_id) AS rk,
         | doc_id, quality_score
         |FROM scored
         |QUALIFY rk <= 5""".stripMargin
    },

    "docs_decontaminate" ->
      s"""WITH $shinglesCte,
         |bsh AS (SELECT DISTINCT sh FROM shd WHERE doc_id < 50)
         |SELECT doc_id, COUNT(*) AS n_overlap
         |FROM shd JOIN bsh USING (sh)
         |WHERE doc_id >= 50
         |GROUP BY doc_id HAVING COUNT(*) >= 8""".stripMargin,

    "docs_repetition" ->
      s"""WITH $toksCte,
         |sh AS (SELECT doc_id,
         |  list_transform(range(greatest(len(tk) - 2, 0)),
         |   i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) AS grams
         | FROM toks),
         |m AS (SELECT doc_id, len(grams)::BIGINT AS n_shingles,
         |  len(list_distinct(grams))::BIGINT AS n_distinct FROM sh)
         |SELECT doc_id, n_shingles, n_distinct,
         | CASE WHEN n_shingles > 0 THEN
         |  ROUND(1.0 - n_distinct::DOUBLE / n_shingles::DOUBLE, 6)
         | ELSE 0.0 END AS dup_ratio
         |FROM m""".stripMargin,

    "docs_shard_assign" ->
      s"""WITH a AS (SELECT doc_id,
         |  CAST(${h60Sql("CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
         |  ${h60Sql("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS order_key
         | FROM documents)
         |SELECT doc_id, shard,
         | CAST(ROW_NUMBER() OVER (PARTITION BY shard
         |   ORDER BY order_key, doc_id) - 1 AS BIGINT) AS pos
         |FROM a""".stripMargin,

    "docs_pack_sequences" ->
      s"""WITH m AS (SELECT doc_id, source,
         |  len(${toksSql("text")})::BIGINT AS n_tokens FROM documents),
         |o AS (SELECT doc_id, source, n_tokens,
         |  COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |   0)::BIGINT AS start_offset
         | FROM m)
         |SELECT doc_id, source, n_tokens, start_offset,
         | CAST(floor(start_offset / 2048.0) AS BIGINT) AS seq_idx
         |FROM o""".stripMargin,

    // BPE-budget packing: the training-chain replay + per-doc counts
    // (the docs_bpe_token_counts tail, source carried) + the
    // domain-sharded running-sum pack.
    "docs_pack_bpe_budget" ->
      (bpeChainCtes(8) + s""",
        |bc AS (SELECT w.doc_id, w.source,
        |  SUM(COALESCE(len(st.syms), length(w.word) + 1))::BIGINT
        |   AS n_bpe_tokens
        | FROM (SELECT t.doc_id, d.source, unnest(t.tk) AS word
        |   FROM toks t JOIN documents d ON d.doc_id = t.doc_id) w
        | LEFT JOIN bpst8 st USING (word)
        | GROUP BY w.doc_id, w.source),
        |po AS (SELECT doc_id, source, n_bpe_tokens,
        |  COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY source
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |   0)::BIGINT AS start_offset
        | FROM bc)
        |SELECT doc_id, source, n_bpe_tokens, start_offset,
        | CAST(floor(start_offset / 1024.0) AS BIGINT) AS seq_idx
        |FROM po""".stripMargin),

    // The budget counts are docs_pack_bpe_budget's (full replayed
    // training chain); the window spine is docs_pack_sharded's.
    "docs_pack_bpe_sharded" ->
      (bpeChainCtes(8) + s""",
        |bc AS (SELECT w.doc_id, w.source,
        |  SUM(COALESCE(len(st.syms), length(w.word) + 1))::BIGINT
        |   AS n_bpe_tokens
        | FROM (SELECT t.doc_id, d.source, unnest(t.tk) AS word
        |   FROM toks t JOIN documents d ON d.doc_id = t.doc_id) w
        | LEFT JOIN bpst8 st USING (word)
        | GROUP BY w.doc_id, w.source),
        |bs AS (SELECT doc_id, source, n_bpe_tokens,
        |  CAST(${h60Sql("CAST(doc_id AS VARCHAR)")} % 4 AS INT) AS shard
        | FROM bc),
        |po AS (SELECT doc_id, source, shard, n_bpe_tokens,
        |  COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY source, shard
        |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |   0)::BIGINT AS start_offset
        | FROM bs)
        |SELECT doc_id, source, shard, n_bpe_tokens, start_offset,
        | CAST(floor(start_offset / 1024.0) AS BIGINT) AS seq_idx
        |FROM po""".stripMargin),

    "docs_pack_sharded" ->
      s"""WITH m AS (SELECT doc_id, source,
         |  CAST(${h60Sql("CAST(doc_id AS VARCHAR)")} % 4 AS INT) AS shard,
         |  len(${toksSql("text")})::BIGINT AS n_tokens FROM documents),
         |o AS (SELECT doc_id, source, shard, n_tokens,
         |  COALESCE(SUM(n_tokens) OVER (PARTITION BY source, shard
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |   0)::BIGINT AS start_offset
         | FROM m)
         |SELECT doc_id, source, shard, n_tokens, start_offset,
         | CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_idx
         |FROM o""".stripMargin,

    "docs_pack_chunks" ->
      s"""WITH m AS (SELECT doc_id, source,
         |  len(${toksSql("text")})::BIGINT AS n_tokens FROM documents),
         |o AS (SELECT doc_id, source, n_tokens,
         |  COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |   0)::BIGINT AS start_offset
         | FROM m),
         |c AS (SELECT doc_id, source, n_tokens, start_offset,
         |  unnest(generate_series(
         |    CAST(floor(start_offset / 512.0) AS BIGINT),
         |    CAST(floor((start_offset + n_tokens - 1) / 512.0) AS BIGINT)))
         |   AS seq_idx
         | FROM o WHERE n_tokens > 0)
         |SELECT doc_id, source, seq_idx,
         | greatest(start_offset, seq_idx * 512) - start_offset AS tok_from,
         | least(start_offset + n_tokens, (seq_idx + 1) * 512)
         |   - start_offset AS tok_to
         |FROM c""".stripMargin,

    // Same planted-PII augmentation, then RE2 mirrors of the Java
    // detector/redactor regexes (the patterns are restricted to the
    // shared dialect — see Text.emailPattern). DuckDB's
    // regexp_replace needs the explicit 'g' flag to match Spark's
    // always-global semantics.
    "docs_pii_scrub" -> {
      val em = Text.emailPattern
      val ph = Text.phonePattern
      val ip = Text.ipv4Pattern
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' contact user' || doc_id::VARCHAR || '@example.com' ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' call 555-' ||
         |    lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0199' ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' from 10.' ||
         |    (doc_id % 256)::VARCHAR || '.0.1' ELSE '' END AS pii_text
         | FROM documents)
         |SELECT doc_id,
         | len(regexp_extract_all(pii_text, '$em'))::BIGINT AS n_emails,
         | len(regexp_extract_all(pii_text, '$ph'))::BIGINT AS n_phones,
         | len(regexp_extract_all(pii_text, '$ip'))::BIGINT AS n_ips,
         | md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
         |   '$em', '<EMAIL>', 'g'),
         |   '$ph', '<PHONE>', 'g'),
         |   '$ip', '<IP>', 'g')) AS clean_fp
         |FROM aug""".stripMargin
    },

    // Corpus-unigram mean log-probability. AVG over doubles is
    // summation-order-dependent across engines (as with the IVF
    // centroids); the 6-dp rounding absorbs the ulp noise.
    "docs_unigram_logprob" ->
      s"""WITH $toksCte,
         |words AS (SELECT doc_id, unnest(tk) AS word FROM toks),
         |freq AS (SELECT word, COUNT(*)::BIGINT AS wn FROM words GROUP BY word),
         |total AS (SELECT SUM(wn)::BIGINT AS tn FROM freq)
         |SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
         | ROUND(AVG(ln(wn::DOUBLE / tn::DOUBLE)), 6) AS avg_logprob
         |FROM words JOIN freq USING (word), total
         |GROUP BY doc_id""".stripMargin,

    // CCNet tiering mirror: identical scored frame as
    // docs_unigram_logprob (plus lang), then the integer tercile
    // algebra over the distinct-score levels. The cumulative window's
    // order keys are distinct within a language, so DuckDB's default
    // RANGE frame ≡ Spark's ROWS frame.
    "docs_perplexity_buckets" ->
      s"""WITH $toksCte,
         |words AS (SELECT doc_id, unnest(tk) AS word FROM toks),
         |freq AS (SELECT word, COUNT(*)::BIGINT AS wn FROM words GROUP BY word),
         |total AS (SELECT SUM(wn)::BIGINT AS tn FROM freq),
         |sl AS (SELECT w.doc_id, d.lang, COUNT(*)::BIGINT AS n_tokens,
         |  ROUND(AVG(ln(wn::DOUBLE / tn::DOUBLE)), 6) AS avg_logprob
         | FROM words w JOIN freq USING (word)
         |  JOIN documents d ON d.doc_id = w.doc_id, total
         | GROUP BY w.doc_id, d.lang),
         |lvl AS (SELECT lang, avg_logprob, COUNT(*)::BIGINT AS ln_docs
         | FROM sl GROUP BY lang, avg_logprob),
         |tot AS (SELECT lang, SUM(ln_docs)::BIGINT AS n FROM lvl GROUP BY lang),
         |buck AS (SELECT lang, avg_logprob,
         |  CASE WHEN cum * 3 <= n THEN 'head'
         |       WHEN cum * 3 <= 2 * n THEN 'middle'
         |       ELSE 'tail' END AS bucket
         | FROM (SELECT lang, avg_logprob,
         |    SUM(ln_docs) OVER (PARTITION BY lang
         |      ORDER BY avg_logprob DESC)::BIGINT AS cum FROM lvl)
         |  JOIN tot USING (lang))
         |SELECT sl.doc_id, sl.lang, sl.n_tokens, sl.avg_logprob, bucket
         |FROM sl JOIN buck USING (lang, avg_logprob)""".stripMargin,

    // Full BPE training replay — see [[bpeMergesOracleSql]].
    "docs_bpe_merges" -> bpeMergesOracleSql(8),

    // BPE segmentation counts — see [[bpeTokenCountsOracleSql]].
    "docs_bpe_token_counts" -> bpeTokenCountsOracleSql(8),

    // Per-language tokenizer fertility off the same replayed chain.
    "docs_bpe_compression" -> (bpeChainCtes(8) + s"""
      |SELECT d.lang, COUNT(*)::BIGINT AS n_words,
      | SUM(length(w.word) + 1)::BIGINT AS n_char_syms,
      | SUM(COALESCE(len(st.syms), length(w.word) + 1))::BIGINT
      |  AS n_bpe_tokens,
      | ROUND(SUM(length(w.word) + 1)::DOUBLE
      |  / SUM(COALESCE(len(st.syms), length(w.word) + 1))::DOUBLE, 6)
      |  AS compression
      |FROM (SELECT doc_id, unnest(tk) AS word FROM toks) w
      |JOIN documents d USING (doc_id)
      |LEFT JOIN bpst8 st USING (word)
      |GROUP BY d.lang""".stripMargin),

    // DSIR weights — see [[dsirCtes]] for the shared model chain.
    "docs_dsir_weights" -> (dsirCtes(64) + s"""
      |SELECT h.doc_id, SUM(cnt)::BIGINT AS n_tokens,
      | ROUND(SUM(cnt::DOUBLE * lr) / SUM(cnt)::DOUBLE, 6)
      |  AS avg_dsir_logratio
      |FROM hist h JOIN lrt USING (bucket) GROUP BY h.doc_id""".stripMargin),

    // DSIR Gumbel-top-k resample: the same u-from-hash60 uniform as
    // docs_sample_weighted, perturbing the per-doc log-ratio SUM.
    "docs_dsir_resample" -> (dsirCtes(64) + s""",
      |score AS (SELECT h.doc_id, SUM(cnt::DOUBLE * lr) AS slr
      | FROM hist h JOIN lrt USING (bucket) GROUP BY h.doc_id)
      |SELECT doc_id, ROUND(slr - ln(greatest(-ln(
      |  ((${h60Sql("doc_id::VARCHAR")}) + 1)::DOUBLE
      |   / 1152921504606846976.0), 1e-300)), 6) AS skey
      |FROM score ORDER BY skey DESC, doc_id LIMIT 25""".stripMargin),

    // Capped twin: top-20 vocabulary (wn DESC, word tie-break — a
    // total order, so both engines select the identical set), OOV
    // scored as one UNK type carrying the whole out-of-vocab mass.
    "docs_unigram_logprob_capped" ->
      s"""WITH $toksCte,
         |words AS (SELECT doc_id, unnest(tk) AS word FROM toks),
         |freq AS (SELECT word, COUNT(*)::BIGINT AS wn FROM words GROUP BY word),
         |total AS (SELECT SUM(wn)::DOUBLE AS tn FROM freq),
         |vocab AS (SELECT word, wn FROM freq ORDER BY wn DESC, word LIMIT 20),
         |oov AS (SELECT tn - (SELECT SUM(wn)::DOUBLE FROM vocab) AS oovn
         | FROM total)
         |SELECT w.doc_id, COUNT(*)::BIGINT AS n_tokens,
         | SUM(CASE WHEN v.wn IS NULL THEN 1 ELSE 0 END)::BIGINT AS oov_tokens,
         | ROUND(AVG(ln(COALESCE(v.wn::DOUBLE, oovn) / tn)), 6)
         |  AS avg_logprob_capped
         |FROM words w LEFT JOIN vocab v USING (word), total, oov
         |GROUP BY w.doc_id""".stripMargin,

    "docs_tfidf_topk" ->
      s"""WITH $toksCte,
         |words AS (SELECT doc_id, unnest(tk) AS word FROM toks),
         |tf AS (SELECT doc_id, word, COUNT(*)::BIGINT AS tf
         | FROM words GROUP BY doc_id, word),
         |dfreq AS (SELECT word, COUNT(DISTINCT doc_id)::BIGINT AS df
         | FROM words GROUP BY word),
         |n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
         |scored AS (SELECT doc_id, word,
         |  ROUND(tf::DOUBLE * ln(n_docs / df::DOUBLE), 6) AS tfidf
         | FROM tf JOIN dfreq USING (word), n)
         |SELECT doc_id,
         | row_number() OVER (PARTITION BY doc_id
         |   ORDER BY tfidf DESC, word) AS rk,
         | word, tfidf
         |FROM scored
         |QUALIFY rk <= 3""".stripMargin,

    "docs_bigram_logprob" ->
      s"""WITH $toksCte,
         |bg AS (SELECT doc_id, unnest(list_transform(
         |   range(greatest(len(tk) - 1, 0)), i -> tk[i+1] || ' ' || tk[i+2]))
         |  AS bg FROM toks),
         |bgc AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS ctx FROM bg),
         |c2 AS (SELECT bg, COUNT(*)::BIGINT AS bn FROM bgc GROUP BY bg),
         |c1 AS (SELECT ctx, COUNT(*)::BIGINT AS cn FROM bgc GROUP BY ctx),
         |v AS (SELECT COUNT(DISTINCT word)::DOUBLE AS vocab
         | FROM (SELECT unnest(tk) AS word FROM toks))
         |SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
         | ROUND(AVG(ln((bn::DOUBLE + 1.0) / (cn::DOUBLE + vocab))), 6)
         |  AS avg_bigram_logprob
         |FROM bgc JOIN c2 USING (bg) JOIN c1 USING (ctx), v
         |GROUP BY doc_id""".stripMargin,

    "docs_mix_weights" ->
      s"""WITH $toksCte,
         |bylang AS (SELECT d.lang, SUM(len(t.tk))::BIGINT AS lang_tokens
         | FROM documents d JOIN toks t USING (doc_id) GROUP BY d.lang),
         |tot AS (SELECT SUM(lang_tokens)::BIGINT AS total_tokens,
         | COUNT(*)::BIGINT AS n_langs FROM bylang)
         |SELECT lang, lang_tokens,
         | ROUND(lang_tokens::DOUBLE / total_tokens::DOUBLE, 6) AS token_share,
         | ROUND(total_tokens::DOUBLE / (n_langs::DOUBLE * lang_tokens::DOUBLE), 6)
         |  AS mix_weight
         |FROM bylang, tot""".stripMargin,

    "docs_lang_confusion" -> {
      val tk = toksSql("text")
      val en = Text.enMarkers.map(m => s"'$m'").mkString(", ")
      val fr = Text.frMarkers.map(m => s"'$m'").mkString(", ")
      val es = Text.esMarkers.map(m => s"'$m'").mkString(", ")
      s"""WITH m AS (SELECT lang,
         |  len(list_filter($tk, t -> t IN ($en))) AS cen,
         |  len(list_filter($tk, t -> t IN ($fr))) AS cfr,
         |  len(list_filter($tk, t -> t IN ($es))) AS ces
         | FROM documents)
         |SELECT lang,
         | CASE WHEN cen >= cfr AND cen >= ces AND cen > 0 THEN 'en'
         |      WHEN cfr >= ces AND cfr > 0 THEN 'fr'
         |      WHEN ces > 0 THEN 'es'
         |      ELSE 'und' END AS lang_guess,
         | COUNT(*)::BIGINT AS n_docs
         |FROM m GROUP BY 1, 2""".stripMargin
    },

    "text_stats" -> {
      val tk = toksSql("text")
      val en = Text.enMarkers.map(m => s"'$m'").mkString(", ")
      val fr = Text.frMarkers.map(m => s"'$m'").mkString(", ")
      val es = Text.esMarkers.map(m => s"'$m'").mkString(", ")
      val all = (Text.enMarkers ++ Text.frMarkers ++ Text.esMarkers)
        .distinct.map(m => s"'$m'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, text, $tk AS tk FROM documents),
         |m AS (SELECT doc_id, text, tk,
         |  len(tk) AS n_tokens,
         |  len(list_filter(tk, t -> t IN ($en))) AS cen,
         |  len(list_filter(tk, t -> t IN ($fr))) AS cfr,
         |  len(list_filter(tk, t -> t IN ($es))) AS ces,
         |  CASE WHEN len(tk) > 0 THEN
         |    len(list_filter(tk, t -> t IN ($all)))::DOUBLE / len(tk)::DOUBLE
         |   ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN length(text) > 0 THEN
         |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)::DOUBLE
         |   ELSE 0.0 END AS p_ratio
         | FROM base)
         |SELECT doc_id, n_tokens,
         | CAST(ceil(length(text)::DOUBLE / 4.0) AS BIGINT) AS n_tokens_bpe_est,
         | ROUND(CASE WHEN n_tokens > 0 THEN
         |   list_aggregate(list_transform(tk, t -> length(t)::BIGINT), 'sum')::DOUBLE / n_tokens::DOUBLE
         |  ELSE 0.0 END, 6) AS avg_token_len,
         | ROUND(p_ratio, 6) AS punct_ratio,
         | ROUND(stop_ratio, 6) AS stopword_ratio,
         | ROUND(least(coalesce(n_tokens, 0)::DOUBLE / 100.0, 1.0) * 0.5
         |  + least(stop_ratio * 5.0, 1.0) * 0.3
         |  + (1.0 - least(p_ratio * 5.0, 1.0)) * 0.2, 6) AS quality_score,
         | CASE WHEN cen >= cfr AND cen >= ces AND cen > 0 THEN 'en'
         |      WHEN cfr >= ces AND cfr > 0 THEN 'fr'
         |      WHEN ces > 0 THEN 'es'
         |      ELSE 'und' END AS lang_guess,
         | md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
         |FROM m""".stripMargin
    },

    "docs_token_predicates" -> {
      val tk = toksSql("text")
      s"""SELECT doc_id,
         | len(list_filter($tk, t -> length(t) > 7)) > 0 AS has_long_token,
         | len(list_filter($tk, t -> length(t) > 10)) = 0 AS all_short_tokens
         |FROM documents""".stripMargin
    },

    "doc_rolling_fp" -> {
      val tk = toksSql("text")
      val b = graft.functions.Text.rollB
      val m = graft.functions.Text.rollM
      s"""SELECT doc_id,
         | CASE WHEN len($tk) > 0 THEN
         |  list_reduce(list_transform($tk, t -> ${h60Sql("t")} % $m),
         |   (a, x) -> (a * $b + x) % $m)
         | ELSE NULL END AS rolling_fp
         |FROM documents""".stripMargin
    },

    "token_count_by_source" -> {
      val tk = toksSql("text")
      s"""SELECT source, CAST(SUM(len($tk)) AS BIGINT) AS total_tokens,
         | CAST(SUM(CAST(ceil(length(text)::DOUBLE / 4.0) AS BIGINT)) AS BIGINT) AS total_tokens_bpe_est,
         | COUNT(*) AS n_docs
         |FROM documents GROUP BY source""".stripMargin
    },

    "dedup_exact_docs" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        | MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "dedup_minhash_bands" ->
      s"WITH $bandsCte SELECT doc_id, band, band_key FROM bands",

    "dedup_minhash_pairs" ->
      s"""WITH $bandsCte
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |FROM bands l JOIN bands r
         | ON l.band = r.band AND l.band_key = r.band_key
         | AND l.doc_id < r.doc_id""".stripMargin,

    "dedup_jaccard_pairs" ->
      s"""WITH $shinglesCte,
         |shc AS (SELECT doc_id, sh FROM shd WHERE sh NOT IN
         | (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) > 32)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
         |inter AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS inter
         | FROM shc l JOIN shc r ON l.sh = r.sh AND l.doc_id < r.doc_id
         | GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter,
         | ROUND(inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE, 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE >= 0.5""".stripMargin,

    // Bipartite mirror of the jaccard join: same shingle CTE and hot
    // cut (combined df — even ∪ odd = the whole table), sides split
    // by id parity, no within-side pairs.
    "docs_crossdup_pairs" ->
      s"""WITH $shinglesCte,
         |shc AS (SELECT doc_id, sh FROM shd WHERE sh NOT IN
         | (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) > 32)),
         |le AS (SELECT * FROM shc WHERE doc_id % 2 = 0),
         |ri AS (SELECT * FROM shc WHERE doc_id % 2 = 1),
         |lsz AS (SELECT doc_id, COUNT(*) AS n FROM le GROUP BY doc_id),
         |rsz AS (SELECT doc_id, COUNT(*) AS n FROM ri GROUP BY doc_id),
         |inter AS (SELECT l.doc_id AS left_id, r.doc_id AS right_id,
         |  COUNT(*) AS inter
         | FROM le l JOIN ri r ON l.sh = r.sh GROUP BY 1, 2)
         |SELECT left_id, right_id, inter,
         | ROUND(inter::DOUBLE / (sa.n + sb.n - inter)::DOUBLE, 6) AS jaccard
         |FROM inter
         |JOIN lsz sa ON sa.doc_id = left_id
         |JOIN rsz sb ON sb.doc_id = right_id
         |WHERE inter::DOUBLE / (sa.n + sb.n - inter)::DOUBLE >= 0.5""".stripMargin,

    "dedup_substring_spans" ->
      s"""WITH $dupSpansCte
         |SELECT doc_id, span_start, span_tokens FROM dspans""".stripMargin,

    "docs_dup_span_fraction" ->
      s"""WITH $dupSpansCte,
         |dagg AS (SELECT doc_id, SUM(span_tokens) AS dup_tokens
         | FROM dspans GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         | CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         | CASE WHEN len(tk) = 0 THEN 0.0
         |  ELSE COALESCE(a.dup_tokens, 0)::DOUBLE / len(tk)::DOUBLE
         | END AS dup_fraction
         |FROM toks t LEFT JOIN dagg a USING (doc_id)""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $clustersCte
         |SELECT doc_id, cluster_id,
         | COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM cc""".stripMargin,

    "dedup_neardup_survivors" ->
      s"""WITH RECURSIVE $clustersCte
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN
         | (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)""".stripMargin,

    // Same component CTE as the cluster queries; the quality formula
    // is the docs_quality_topk mirror, computed only over cluster
    // members (the corpus-sized scan scores nothing it won't rank).
    "dedup_survivors_quality" -> {
      val tk = toksSql("text")
      val all = (Text.enMarkers ++ Text.frMarkers ++ Text.esMarkers)
        .distinct.map(m => s"'$m'").mkString(", ")
      s"""WITH RECURSIVE $clustersCte,
         |mem AS (SELECT doc_id, cluster_id FROM cc),
         |mbase AS (SELECT d.doc_id, d.text, $tk AS tk FROM documents d
         | WHERE d.doc_id IN (SELECT doc_id FROM mem)),
         |mm AS (SELECT doc_id,
         |  len(tk) AS n_tokens,
         |  CASE WHEN len(tk) > 0 THEN
         |    len(list_filter(tk, t -> t IN ($all)))::DOUBLE / len(tk)::DOUBLE
         |   ELSE 0.0 END AS stop_ratio,
         |  CASE WHEN length(text) > 0 THEN
         |    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)::DOUBLE
         |   ELSE 0.0 END AS p_ratio
         | FROM mbase),
         |mscored AS (SELECT doc_id,
         |  ROUND(least(coalesce(n_tokens, 0)::DOUBLE / 100.0, 1.0) * 0.5
         |   + least(stop_ratio * 5.0, 1.0) * 0.3
         |   + (1.0 - least(p_ratio * 5.0, 1.0)) * 0.2, 6) AS q
         | FROM mm),
         |best AS (SELECT doc_id FROM (SELECT m.doc_id,
         |   row_number() OVER (PARTITION BY m.cluster_id
         |     ORDER BY s.q DESC, m.doc_id) AS rn
         |  FROM mem m JOIN mscored s USING (doc_id)) WHERE rn = 1),
         |losers AS (SELECT doc_id FROM mem
         | WHERE doc_id NOT IN (SELECT doc_id FROM best))
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin
    },

    "dedup_simhash" -> {
      val h = h60Sql("t")
      val sums = (0 until 60)
        .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(", ")
      val fp = (0 until 60)
        .map(b => s"CASE WHEN s$b > 0 THEN 1::BIGINT << $b ELSE 0::BIGINT END")
        .mkString(" + ")
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(tk) AS t FROM toks),
         |h AS (SELECT doc_id, $h AS h FROM tok),
         |bits AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
         |SELECT doc_id, $fp AS simhash FROM bits""".stripMargin
    },

    "embed_norms" ->
      """SELECT vec_id, len(embedding) AS dims,
        | ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
        |FROM embeddings""".stripMargin,

    // Generated from the SAME srpSign constants the Spark plan folds
    // in; the projection is an explicit left-to-right sum so the
    // float accumulation order (and thus every sign bit) is
    // bit-identical to Spark's aggregate() fold.
    "embed_srp_buckets" ->
      s"WITH $srpBucketsCte SELECT vec_id, tbl, bucket FROM buckets",

    // Embedding near-dup mirror: same buckets CTE, cosine verify on
    // the rounded score (filter AND output use the rounded value, as
    // the Spark side does).
    "dedup_embed_neardup" ->
      s"""WITH $srpBucketsCte,
         |cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
         | FROM buckets l JOIN buckets r
         |  ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |SELECT vec_a, vec_b,
         | ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS score
         |FROM cand
         |JOIN embeddings a ON a.vec_id = vec_a
         |JOIN embeddings b ON b.vec_id = vec_b
         |WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4""".stripMargin,

    // Bipartite mirror of the semantic near-dup join: candidates are
    // bucket collisions BETWEEN the id-parity halves, no within-side
    // pairs and no id-order predicate.
    "embed_crossdup_pairs" ->
      s"""WITH $srpBucketsCte,
         |cand AS (SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
         | FROM buckets l JOIN buckets r
         |  ON l.tbl = r.tbl AND l.bucket = r.bucket
         | WHERE l.vec_id % 2 = 0 AND r.vec_id % 2 = 1)
         |SELECT left_id, right_id,
         | ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS score
         |FROM cand
         |JOIN embeddings a ON a.vec_id = left_id
         |JOIN embeddings b ON b.vec_id = right_id
         |WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4""".stripMargin,

    // Sequential two-batch admission mirror: batch 1 drops ids that
    // share a (tbl, bucket) with a SMALLER id in batch 1; the "store"
    // after batch 1 is exactly the admitted ids' keys; batch 2 drops
    // on a store collision OR a smaller-id collision within batch 2 —
    // the same rules Dedup.admitByKeys applies, unrolled over the
    // fixed split.
    "docs_embed_admission" ->
      s"""WITH ${srpBucketsCteOf(12, 8)},
         |mid AS (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS m
         |  FROM embeddings),
         |k1 AS (SELECT b.* FROM buckets b, mid WHERE b.vec_id <= mid.m),
         |k2 AS (SELECT b.* FROM buckets b, mid WHERE b.vec_id > mid.m),
         |d1 AS (SELECT DISTINCT l.vec_id FROM k1 l JOIN k1 r
         |  ON r.tbl = l.tbl AND r.bucket = l.bucket
         |    AND r.vec_id < l.vec_id),
         |adm1 AS (SELECT e.vec_id FROM embeddings e, mid
         |  WHERE e.vec_id <= mid.m
         |    AND e.vec_id NOT IN (SELECT vec_id FROM d1)),
         |sk1 AS (SELECT k.* FROM k1 k JOIN adm1 a USING (vec_id)),
         |d2 AS (SELECT DISTINCT l.vec_id FROM k2 l
         |  WHERE EXISTS (SELECT 1 FROM sk1 s
         |    WHERE s.tbl = l.tbl AND s.bucket = l.bucket
         |      AND s.vec_id <> l.vec_id)
         |   OR EXISTS (SELECT 1 FROM k2 r
         |    WHERE r.tbl = l.tbl AND r.bucket = l.bucket
         |      AND r.vec_id < l.vec_id)),
         |adm2 AS (SELECT e.vec_id FROM embeddings e, mid
         |  WHERE e.vec_id > mid.m
         |    AND e.vec_id NOT IN (SELECT vec_id FROM d2))
         |SELECT vec_id, CAST(1 AS BIGINT) AS batch FROM adm1
         |UNION ALL
         |SELECT vec_id, CAST(2 AS BIGINT) AS batch FROM adm2""".stripMargin,

    // The minhash admission mirror: identical sequential-admission
    // shape over the shared minhash bands CTE — collision = equality
    // on (band, band_key); docs too short to shingle emit no keys and
    // always survive (absent from bands → never dropped).
    "docs_minhash_admission" -> minhashAdmissionOracleSql,

    // The LAYOUT-MIGRATION mirror: identical reference — the bucket
    // modulus is engine-internal, so a rebucketAdmitted migration
    // between the batches must be decision-invisible; any migration
    // bug that loses a key, or re-buckets it away from its future
    // collisions, hash-fails this row against the SAME SQL.
    "docs_minhash_admission_rebucket" -> minhashAdmissionOracleSql,

    // The INCREMENTAL-split mirror: the same sequential-admission
    // reference over the row's fixed 1/7 id slice — the
    // extendible-hashing split layout (per-bucket depths, chain
    // probes) is engine-internal, so online splits inside the
    // admission turns must be decision-invisible; a split stranding a
    // key off its probe chain hash-fails this row.
    "docs_minhash_admission_split" -> minhashAdmissionSplitOracleSql,

    // The deletion-path mirror: identical to docs_minhash_admission
    // except the store batch 2 joins against has FORGOTTEN the
    // removed docs' keys (sk1r = admitted batch-1 keys minus the
    // doc_id % 5 == 2 takedowns) — exactly what nearDupRemove's
    // physical bucket rewrite leaves behind.
    "docs_minhash_admission_removed" ->
      s"""WITH $bandsCte,
         |mid AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m
         |  FROM documents),
         |k1 AS (SELECT b.* FROM bands b, mid WHERE b.doc_id <= mid.m),
         |k2 AS (SELECT b.* FROM bands b, mid WHERE b.doc_id > mid.m),
         |d1 AS (SELECT DISTINCT l.doc_id FROM k1 l JOIN k1 r
         |  ON r.band = l.band AND r.band_key = l.band_key
         |    AND r.doc_id < l.doc_id),
         |adm1 AS (SELECT doc.doc_id FROM documents doc, mid
         |  WHERE doc.doc_id <= mid.m
         |    AND doc.doc_id NOT IN (SELECT doc_id FROM d1)),
         |sk1 AS (SELECT k.* FROM k1 k JOIN adm1 a USING (doc_id)),
         |sk1r AS (SELECT * FROM sk1 WHERE doc_id % 5 <> 2),
         |d2 AS (SELECT DISTINCT l.doc_id FROM k2 l
         |  WHERE EXISTS (SELECT 1 FROM sk1r s
         |    WHERE s.band = l.band AND s.band_key = l.band_key
         |      AND s.doc_id <> l.doc_id)
         |   OR EXISTS (SELECT 1 FROM k2 r
         |    WHERE r.band = l.band AND r.band_key = l.band_key
         |      AND r.doc_id < l.doc_id)),
         |adm2 AS (SELECT doc.doc_id FROM documents doc, mid
         |  WHERE doc.doc_id > mid.m
         |    AND doc.doc_id NOT IN (SELECT doc_id FROM d2))
         |SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM adm1
         |UNION ALL
         |SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM adm2""".stripMargin,

    // The windowed-admission mirror: three sequential id-third
    // batches; batch 3's store side sees ONLY batch-2 survivors
    // (batch-1 keys are outside the suppressSince window), while
    // batch 2 still sees batch 1 — exactly the adm_ts cutoff the
    // engine applies at query time.
    "docs_minhash_admission_windowed" ->
      s"""WITH $bandsCte,
         |rng AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi
         |  FROM documents),
         |th AS (SELECT lo + (hi - lo) // 3 AS t1,
         |  lo + (2 * (hi - lo)) // 3 AS t2 FROM rng),
         |k1 AS (SELECT b.* FROM bands b, th WHERE b.doc_id <= th.t1),
         |k2 AS (SELECT b.* FROM bands b, th
         |  WHERE b.doc_id > th.t1 AND b.doc_id <= th.t2),
         |k3 AS (SELECT b.* FROM bands b, th WHERE b.doc_id > th.t2),
         |d1 AS (SELECT DISTINCT l.doc_id FROM k1 l JOIN k1 r
         |  ON r.band = l.band AND r.band_key = l.band_key
         |    AND r.doc_id < l.doc_id),
         |adm1 AS (SELECT doc.doc_id FROM documents doc, th
         |  WHERE doc.doc_id <= th.t1
         |    AND doc.doc_id NOT IN (SELECT doc_id FROM d1)),
         |sk1 AS (SELECT k.* FROM k1 k JOIN adm1 a USING (doc_id)),
         |d2 AS (SELECT DISTINCT l.doc_id FROM k2 l
         |  WHERE EXISTS (SELECT 1 FROM sk1 s
         |    WHERE s.band = l.band AND s.band_key = l.band_key
         |      AND s.doc_id <> l.doc_id)
         |   OR EXISTS (SELECT 1 FROM k2 r
         |    WHERE r.band = l.band AND r.band_key = l.band_key
         |      AND r.doc_id < l.doc_id)),
         |adm2 AS (SELECT doc.doc_id FROM documents doc, th
         |  WHERE doc.doc_id > th.t1 AND doc.doc_id <= th.t2
         |    AND doc.doc_id NOT IN (SELECT doc_id FROM d2)),
         |sk2 AS (SELECT k.* FROM k2 k JOIN adm2 a USING (doc_id)),
         |d3 AS (SELECT DISTINCT l.doc_id FROM k3 l
         |  WHERE EXISTS (SELECT 1 FROM sk2 s
         |    WHERE s.band = l.band AND s.band_key = l.band_key
         |      AND s.doc_id <> l.doc_id)
         |   OR EXISTS (SELECT 1 FROM k3 r
         |    WHERE r.band = l.band AND r.band_key = l.band_key
         |      AND r.doc_id < l.doc_id)),
         |adm3 AS (SELECT doc.doc_id FROM documents doc, th
         |  WHERE doc.doc_id > th.t2
         |    AND doc.doc_id NOT IN (SELECT doc_id FROM d3))
         |SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM adm1
         |UNION ALL
         |SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM adm2
         |UNION ALL
         |SELECT doc_id, CAST(3 AS BIGINT) AS batch FROM adm3""".stripMargin,

    "embed_neardup_clusters" ->
      s"""WITH RECURSIVE $srpBucketsCte,
         |cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
         | FROM buckets l JOIN buckets r
         |  ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id),
         |epairs AS (SELECT vec_a, vec_b FROM cand
         | JOIN embeddings a ON a.vec_id = vec_a
         | JOIN embeddings b ON b.vec_id = vec_b
         | WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4),
         |esym AS (SELECT vec_a AS n, vec_b AS r FROM epairs
         | UNION SELECT vec_b, vec_a FROM epairs
         | UNION SELECT vec_a, vec_a FROM epairs
         | UNION SELECT vec_b, vec_b FROM epairs),
         |ereach AS (SELECT n, r FROM esym
         | UNION SELECT ereach.n, esym.r FROM ereach JOIN esym ON ereach.r = esym.n)
         |SELECT n AS vec_id, MIN(r) AS cluster_id FROM ereach GROUP BY n""".stripMargin,

    // Full LSH ANN pipeline — see [[lshTopkOracleSql]].
    "embed_topk_lsh" -> lshTopkOracleSql,

    // Recall@5 of every approximate ANN path vs brute force — the
    // silent-recall-regression tripwire; composed verbatim from the
    // per-path oracle mirrors above.
    "embed_recall_ann" -> recallAnnOracleSql,

    // z-score mirror: positional unnest via the range/list_transform
    // pattern, stats rounded to 6 dp before use on both sides.
    "embed_standardize" ->
      """WITH ev AS (SELECT vec_id,
        |  unnest(list_transform(range(len(embedding)),
        |    i -> {'dim': i, 'v': embedding[i+1]::DOUBLE})) AS s
        | FROM embeddings),
        |e AS (SELECT vec_id, s.dim::BIGINT AS dim, s.v AS v FROM ev),
        |st AS (SELECT dim, ROUND(avg(v), 6) AS mu,
        |  ROUND(stddev(v), 6) AS sd FROM e GROUP BY dim)
        |SELECT e.vec_id, e.dim, ROUND((e.v - st.mu) / st.sd, 6) AS z
        |FROM e JOIN st USING (dim) WHERE st.sd > 0""".stripMargin,

    // SQ8 mirror — see [[sq8TopkOracleSql]].
    "embed_topk_sq8" -> sq8TopkOracleSql,

    // PQ ADC mirror — see [[pqTopkOracleSql]].
    "embed_topk_pq" -> pqTopkOracleSql,
    // Deletion mirrors: the identical ADC chains with the tombstoned
    // ids (vec_id % 7 == 3, [[removedIds]]) excluded from the
    // neighbor side — what a rebuild over the kept corpus would rank.
    "embed_topk_pq_removed" ->
      ("WITH " + pqChainCtes(8, 16, 1) +
        pqTailSql("", " AND cd.vec_id % 7 <> 3")),
    "embed_topk_sq8_removed" ->
      sq8TopkOracleSqlWhere(" AND c.vec_id % 7 <> 3"),

    "embed_topk_pq_trained" -> pqTrainedOracleSql,

    "embed_topk_ivfpq" -> ivfPqTopkOracleSql,

    // SemDeDup mirror: the shared quantizer-assignment CTE, then a
    // within-cell self-join marks every vector dominated by a
    // lower-id cell-mate at rounded cosine ≥ 0.4.
    "embed_semdedup" ->
      s"""WITH $ivfAssignCte,
         |av AS (SELECT a.cid, a.cell, e.embedding
         | FROM assigned a JOIN embeddings e ON e.vec_id = a.cid),
         |dom AS (SELECT DISTINCT r.cid FROM av l JOIN av r
         |  ON l.cell = r.cell AND l.cid < r.cid
         | WHERE ROUND(list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]), 6) >= 0.4)
         |SELECT a.cid AS vec_id, a.cell,
         | (dom.cid IS NOT NULL) AS is_duplicate
         |FROM assigned a LEFT JOIN dom ON dom.cid = a.cid""".stripMargin,

    // Full IVF ANN pipeline mirror: 16 seed cells (first vectors by
    // id), one assignment step (max_by cosine), per-dim centroid
    // means, 4 probed cells per query by centroid cosine, exact
    // re-rank on the rounded score — step for step the ivfTopK plan.
    "embed_topk_ivf" -> ivfOracleSql,

    // The persisted-index probe must agree with the per-call path.
    "embed_topk_ivf_indexed" -> ivfOracleSql,

    "embed_topk_bruteforce" -> bfTopkOracleSql,

    "multimodal_stats" ->
      """SELECT doc_id, 'text/plain' AS media_type,
        | octet_length(encode(text)) AS byte_len, md5(text) AS checksum
        |FROM documents""".stripMargin,

    // DuckDB 1.0 cannot slice BLOBs; the corpus is pure ASCII, so
    // string slicing produces byte-identical frames (proven by the
    // matching md5 checksums in multimodal_stats).
    "multimodal_frames" ->
      """SELECT doc_id, frame_idx,
        | octet_length(encode(substring(text, frame_idx * 64 + 1, 64))) AS frame_len,
        | md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_md5
        |FROM (SELECT doc_id, text,
        |  unnest(range(CAST(ceil(octet_length(encode(text))::DOUBLE / 64) AS BIGINT))) AS frame_idx
        | FROM documents)
        |WHERE frame_idx < 3""".stripMargin,

    // Mirror of the stub decode kernel: per-dim INTEGER byte sums
    // (associative, so partition order is irrelevant) divided once by
    // 255 and narrowed through REAL — the same long→double→float32
    // sequence the Scala kernel performs, then widened back to DOUBLE
    // exactly as the Spark query's .cast("double") does. ascii() = the
    // payload byte because the corpus is pure ASCII (see
    // multimodal_frames). LEFT JOIN keeps zero-length payloads, whose
    // feature is 0.0 on both sides.
    "multimodal_features" ->
      """WITH pos AS (
        |  SELECT doc_id, unnest(range(1, length(text) + 1)) AS j FROM documents
        |), sums AS (
        |  SELECT p.doc_id,
        |   SUM(CASE WHEN (p.j - 1) % 8 = 0 THEN ascii(substring(d.text, p.j, 1)) ELSE 0 END) AS s0,
        |   SUM(CASE WHEN (p.j - 1) % 8 = 7 THEN ascii(substring(d.text, p.j, 1)) ELSE 0 END) AS s7
        |  FROM pos p JOIN documents d USING (doc_id) GROUP BY p.doc_id
        |)
        |SELECT d.doc_id, 'text/plain' AS media_type,
        | octet_length(encode(d.text)) AS byte_len,
        | CAST(CAST(CAST(COALESCE(s.s0, 0) AS DOUBLE) / 255.0 AS REAL) AS DOUBLE) AS feat0,
        | CAST(CAST(CAST(COALESCE(s.s7, 0) AS DOUBLE) / 255.0 AS REAL) AS DOUBLE) AS feat7
        |FROM documents d LEFT JOIN sums s USING (doc_id)""".stripMargin,

    // The REAL ImageIO decode: recompute the calibration-pixel formula
    // (Multimodal.calibrationPixel — pure 64-bit integer arithmetic)
    // over the 16×16 grid and aggregate the exact statistics the
    // kernel emits from DECODED bytes. A hash match proves the whole
    // encode→PNG→decode→statistics path reproduced every pixel.
    "multimodal_image_decode" ->
      """WITH px AS (
        |  SELECT d.doc_id, ((d.doc_id * 2654435761 + x.x * 40503 + y.y * 65537) % 256) AS v
        |  FROM documents d, range(0, 16) x(x), range(0, 16) y(y)
        |)
        |SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        | CAST(SUM(v) AS BIGINT) AS lum_sum,
        | CAST(SUM(CASE WHEN v // 32 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
        | CAST(SUM(CASE WHEN v // 32 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
        | CAST(SUM(CASE WHEN v // 32 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS h7
        |FROM px GROUP BY doc_id""".stripMargin,

    "multimodal_audio_decode" ->
      """WITH smp AS (
        |  SELECT d.doc_id,
        |   ((d.doc_id * 2654435761 + i.i * 48271) % 65536 - 32768) AS v
        |  FROM documents d, range(0, 256) i(i)
        |)
        |SELECT doc_id, CAST(256 AS INTEGER) AS n_samples,
        | CAST(8000 AS INTEGER) AS sample_rate,
        | CAST(SUM(abs(v)) AS BIGINT) AS amp_sum,
        | CAST(SUM(CASE WHEN LEAST(abs(v) // 4096, 7) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
        | CAST(SUM(CASE WHEN LEAST(abs(v) // 4096, 7) = 4 THEN 1 ELSE 0 END) AS BIGINT) AS a4,
        | CAST(SUM(CASE WHEN LEAST(abs(v) // 4096, 7) = 7 THEN 1 ELSE 0 END) AS BIGINT) AS a7
        |FROM smp GROUP BY doc_id""".stripMargin
  )
}
