package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication: exact (content-hash), MinHash
  * LSH, SimHash, and n-gram Jaccard verification.
  *
  * Shuffle budget is the design driver — at 100 TB the naive
  * all-pairs comparison is impossible (O(n²)), so every operator here
  * follows the standard sketch → bucket → verify shape:
  *   1. per-document sketches are computed scan-side (narrow, codegen'd
  *      array expressions, no UDFs);
  *   2. candidate generation shuffles only (key, doc_id) pairs — the
  *      LSH band trick — never document payloads;
  *   3. exact verification (Jaccard) runs only on the candidate set.
  *
  * All hashes go through [[Hashing.hash60]] (md5-based) so the DuckDB
  * oracle reproduces them bit-for-bit.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct normalized content with
    * the surviving (minimum) doc id and the duplicate count. At scale:
    * one hash-shuffle on the 32-byte fingerprint.
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), Text.docFingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows surviving exact dedup (first doc id per content wins).
    * Window-free formulation: min-id per fingerprint then semi-join,
    * which partial-aggregates map-side; a row_number window would
    * shuffle whole rows.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDupGroups(docs, idCol, textCol).select(col("keep_id"))
    docs.join(keep, docs(idCol) === keep("keep_id"), "left_semi")
  }

  /** Per-document distinct word-shingle sets: (id, shingle) exploded.
    * The base relation for minhash and Jaccard.
    */
  def docShingles(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    docs
      // Materialize tokens as a bound column BEFORE shingling: the
      // shingle lambda references the token array ~3·len times, and
      // higher-order functions evaluate interpreted (no codegen CSE) —
      // an inlined tokenize expression would re-split the text on
      // every element_at, turning a linear scan quadratic.
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(Text.shingles(col("tk"), n))).as("shingle"))

  /** Shingle sets with the shingle replaced by its 60-bit hash —
    * every downstream op (minhash, Jaccard join) only needs equality,
    * and an 8-byte key shuffles ~4× less than a 3-word string and
    * compares in one instruction. One md5 per (doc, shingle) total.
    */
  def docShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    // fused native tokenize→window→hash (ShingleHashesExpr): the
    // shingle string never materializes and the explode carries
    // 8-byte longs. array_distinct runs on the HASHES — exactly the
    // oracle's `SELECT DISTINCT doc_id, h60(shingle)` semantics
    // (the string-side distinct of [[docShingles]] differs only if
    // two distinct shingles of one doc collide in 60 bits).
    docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), explode(array_distinct(
        graft.plans.ShingleHashesExpr.shingle_hashes(col("tk"), n)))
        .as("sh"))

  /** The classic universal-hash minhash permutation family over the
    * Mersenne prime p = 2³¹−1: h_i(x) = (a_i·(x mod p) + b_i) mod p.
    * One md5 per shingle feeds all k permutations — k× fewer md5
    * evaluations than salted re-hashing, with the same collision
    * guarantees. a_i/b_i are md5-derived constants, so any engine can
    * reproduce the family from the integers alone.
    */
  val minhashP: Long = 2147483647L
  def minhashA(i: Int): Long =
    math.floorMod(hash60OfString(s"a:$i"), minhashP - 1) + 1
  def minhashB(i: Int): Long =
    math.floorMod(hash60OfString(s"b:$i"), minhashP)
  private def hash60OfString(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** MinHash signatures: k permutation minima per document in a
    * SINGLE groupBy(doc_id) — one shuffle, no k× row blowup (the
    * common explode-by-salt formulation multiplies the shuffle by k
    * for no reason), and partial (map-side) aggregation reduces the
    * exchange to one signature per doc.
    *
    * The permutation minima run in [[graft.plans.MinhashAgg]], a
    * custom TypedImperativeAggregate with one k-long array buffer per
    * group: `x mod p` once per row, then one tight loop over the k
    * permutations — where the declarative k-`min` spelling
    * ([[minhashSignaturesDeclarative]]) evaluates k pmod expression
    * trees per row. Bit-identical output (integer math;
    * MinhashAggSpec).
    * Input: (doc_id, sh) from [[docShingleHashes]].
    * Output: (doc_id, sig array<long> of length k).
    */
  def minhashSignatures(shingleHashes: DataFrame, k: Int): DataFrame =
    shingleHashes.groupBy(col("doc_id"))
      .agg(graft.plans.MinhashAgg.minhash_agg(col("sh"), k).as("sig"))

  /** The composable-built-ins spelling of [[minhashSignatures]] —
    * kept as the executable specification the custom aggregate is
    * tested against, and the form the DuckDB oracle mirrors.
    */
  def minhashSignaturesDeclarative(shingleHashes: DataFrame,
                                   k: Int): DataFrame = {
    val base = pmod(col("sh"), lit(minhashP))
    val mins = (0 until k).map(i =>
      min(pmod(lit(minhashA(i)) * base + lit(minhashB(i)), lit(minhashP)))
        .as(s"mh$i"))
    shingleHashes.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** LSH banding: split the k-length signature into `bands` bands and
    * emit (doc_id, band, band_key). Documents sharing any (band,
    * band_key) are near-duplicate candidates. The shuffle key is a
    * 32-byte hash — payload-free candidate generation.
    */
  def lshBands(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    // bands > k would make every band key md5("") — ALL documents
    // mutual candidates, the exact O(n²) blowup this module prevents;
    // a non-dividing bands silently ignores trailing signature values
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must be positive and divide k ($k)")
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      val key = md5(concat_ws(",",
        (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*))
      struct(lit(b).as("band"), key.as("band_key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.band_key"))
  }

  /** Candidate near-duplicate pairs (a < b) from LSH buckets.
    *
    * A bucket of m documents emits m·(m−1)/2 pairs, so one degenerate
    * bucket — typically a large EXACT-duplicate cluster, whose
    * signatures are identical in every band — can dominate the whole
    * join (1M copies of one page ⇒ 5·10¹¹ pairs). Two defenses:
    *   1. pipeline order: run [[exactDedup]] FIRST — exact-duplicate
    *      clusters then collapse to one survivor before LSH ever sees
    *      them (the recommended production order; minhash only earns
    *      its cost on NEAR duplicates);
    *   2. `maxBucketSize`: buckets larger than the cap are dropped
    *      from candidate generation with a logged count, bounding the
    *      per-bucket fan-out at maxBucketSize²/2. A dropped bucket's
    *      documents remain candidates through their other bands (an
    *      oversized bucket means the band carries no discriminating
    *      signal, same rationale as [[jaccardPairs]]' DF cap).
    * The default (Long.MaxValue) is bit-identical to the unguarded
    * join.
    */
  def lshCandidatePairs(bands: DataFrame,
                        maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val pruned = dropOversizedBuckets(bands, Seq("band", "band_key"),
      maxBucketSize, "lshCandidatePairs")
    val l = pruned.as("l"); val r = pruned.as("r")
    l.join(r,
        col("l.band") === col("r.band") &&
        col("l.band_key") === col("r.band_key") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** Shared hot-bucket guard: drop rows belonging to bucket keys with
    * more than `maxBucketSize` members, logging how many buckets were
    * dropped. The hot-key list is aggregated (≤ |rows|/cap entries) so
    * the broadcast is bounded; the count() action runs on that same
    * small aggregate, never the data.
    */
  private[graft] def dropOversizedBuckets(rows: DataFrame, keyCols: Seq[String],
                                          maxBucketSize: Long,
                                          opName: String): DataFrame = {
    if (maxBucketSize == Long.MaxValue) return rows
    require(maxBucketSize > 0, s"maxBucketSize must be positive: $maxBucketSize")
    val keys = keyCols.map(col)
    // materialize ONCE when the guard is active: the detection
    // aggregate is its own ACTION and would otherwise re-run the
    // entire upstream pipeline (tokenize → minhash → band) for
    // detection and again for the candidate join — the same
    // materialize-before-detect discipline jaccardPairs uses
    val mat = rows.localCheckpoint(true)
    val hot = mat.groupBy(keys: _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(keys: _*)
    // the collect is CAPPED (jaccardPairs' rule: an overflowing
    // collect must not grow with the corpus — |rows|/maxBucketSize is
    // a bound, not a constant): past the cap, exclusion falls back to
    // a plain anti-join against the aggregate over the checkpoint
    val hotRows = hot.limit(maxInsetHotKeys + 1).collect()
    if (hotRows.isEmpty) return mat
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"$opName: dropping bucket(s) larger than $maxBucketSize " +
        "members from candidate generation (degenerate duplicate " +
        "cluster? run exactDedup first)")
    if (hotRows.length <= maxInsetHotKeys) {
      val spark = mat.sparkSession
      val hotDf = spark.createDataFrame(
        spark.sparkContext.parallelize(hotRows.toIndexedSeq, 1),
        org.apache.spark.sql.types.StructType(
          keyCols.map(c => mat.schema(c))))
      mat.join(broadcast(hotDf), keyCols, "left_anti")
    } else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$opName: > $maxInsetHotKeys oversized buckets — excluding " +
          "via a shuffled anti-join instead of a driver-collected list")
      mat.join(hot, keyCols, "left_anti")
    }
  }

  /** Exact Jaccard similarity for every pair of documents sharing at
    * least one shingle, via the inverted-index self-join: shuffle is
    * on the hashed shingle key, intermediate size is
    * Σ_shingle (docs/shingle choose 2).
    *
    * That sum is quadratic in shingle document frequency, so one
    * boilerplate shingle shared by a million documents would emit
    * 5·10¹¹ pairs. `maxShingleDf` caps it: shingles with DF > τ are
    * dropped from the index BEFORE the join (they carry no dedup
    * signal — every boilerplate page shares them), bounding the pair
    * fan-out at τ·|index|. The cap applies uniformly (sizes and
    * intersections), so the result is exact Jaccard over the
    * restricted shingle universe; τ = Long.MaxValue (the default) is
    * bit-identical to the uncapped computation.
    * Input: (doc_id, sh) from [[docShingleHashes]].
    * Returns (doc_a, doc_b, inter, jaccard) for pairs ≥ threshold.
    */
  /** Hot-key exclusion sets up to this size inline as a literal INSET
    * filter; larger sets fall back to the broadcast anti-join — a
    * literal carrying hundreds of thousands of longs rides along in
    * the plan and every serialized task, where a broadcast ships once
    * per executor. 10k longs ≈ 80 KB, safely inside the sweet spot.
    */
  private[graft] val maxInsetHotKeys = 10000

  def jaccardPairs(shingles: DataFrame, threshold: Double,
                   maxShingleDf: Long = Long.MaxValue,
                   indexPath: Option[String] = None): DataFrame = {
    // The shingle relation feeds three consumers (sizes + both join
    // sides): materialize it once. The default is localCheckpoint —
    // right for a single-job run, but its lineage-truncated blocks
    // live in executor memory and are LOST on executor failure, which
    // at 100 TB means recomputing the whole shingle scan. `indexPath`
    // is the durable alternative: the shingle relation is written to
    // parquet and read back, fault-tolerant within the job. Each call
    // REBUILDS the index (mode overwrite — the corpus may have
    // changed and this function cannot know); a caller wanting
    // cross-job reuse reads the parquet dir directly instead of
    // re-invoking this. Identical results either way (DedupSpec
    // parity test).
    // shuffle_hash beats sort-merge here — the join
    // key is massively duplicated, so sorting pays n·log n for
    // nothing while a hash table streams the probe side.
    val all = indexPath match {
      case Some(path) =>
        shingles.write.mode("overwrite").parquet(path)
        shingles.sparkSession.read.parquet(path)
      case None => shingles.localCheckpoint(true)
    }
    val sh =
      if (maxShingleDf == Long.MaxValue) all
      else {
        // COLLECT the hot shingles in the same action that detects
        // them, exactly like [[dropOversizedBuckets]]: the list is
        // ≤ |index|/τ entries — the same bound that would make the
        // anti-join broadcastable, and BroadcastExchange collects to
        // the driver anyway, so this has the identical memory profile.
        // What it saves is re-planning: the capped relation feeds
        // THREE consumers (sizes + both join sides), and as a
        // broadcast anti-join each consumer re-plans the hot-key
        // aggregate + broadcast build (no exchange reuse across the
        // three — verified in the r4 plan), where a driver-collected
        // INSET filter evaluates scan-side inside each consumer's
        // codegen for free. Measured at sf0.1: 1.53 s → 1.41 s
        // (r3's unguarded spelling: 1.18 s — the remaining gap is the
        // detection aggregate itself, the irreducible price of an
        // EXACT df>τ cut; a one-pass bounded-posting-list alternative
        // measured SLOWER, see PLANS.md §jaccard-guard). The detection
        // relation is capped at maxInsetHotKeys+1 rows via limit —
        // boilerplate-heavy corpora can legitimately exceed the INSET
        // sweet spot, and an overflowing collect must not grow with it.
        val detected = all.groupBy(col("sh"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf)
          .select(col("sh"))
        val hotRows = detected.limit(maxInsetHotKeys + 1)
          .collect().map(_.getLong(0)).toSeq
        if (hotRows.isEmpty) all
        else if (hotRows.length <= maxInsetHotKeys)
          all.filter(!col("sh").isInCollection(hotRows))
        else {
          // Degenerate corpus: the hot list outgrew what a literal
          // INSET should carry (plan/task serialization scales with
          // it). Fall back to the broadcast anti-join — per-consumer
          // re-planning is the lesser cost once the exclusion set is
          // this large.
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"jaccardPairs: > $maxInsetHotKeys shingles over df=" +
              s"$maxShingleDf (boilerplate-heavy corpus?); excluding " +
              "via broadcast anti-join instead of an INSET literal")
          all.join(broadcast(detected), Seq("sh"), "left_anti")
        }
      }
    val sizes = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"))
    val l = sh.as("l"); val r = sh.hint("shuffle_hash").as("r")
    val inter = l.join(r,
        col("l.sh") === col("r.sh") &&
        col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      // threshold on the RAW ratio (the oracle filters unrounded);
      // round only the output column
      .withColumn("jaccard_raw", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        Hashing.portableRound(col("jaccard_raw"), 6).as("jaccard"))
  }

  /** Cross-corpus near-duplicate pairs — the BIPARTITE variant of
    * [[jaccardPairs]]: exact shingle-jaccard between every
    * (left, right) pair sharing a shingle, never within a side. This
    * is the similarity JOIN a training pipeline needs between two
    * corpora (align two crawl snapshots, fuzzy train-vs-benchmark
    * contamination where exact n-gram matching
    * ([[Text]]-decontaminate) misses light paraphrase).
    *
    * Same scale shape as the self-join: hot shingles are capped by
    * document frequency computed across BOTH sides (a boilerplate
    * shingle floods a bipartite join exactly as it floods a
    * self-join), the join key is massively duplicated so shuffle_hash
    * beats sort-merge, and sizes join after the pair aggregation so
    * the pair shuffle carries only (id, id) rows. Inputs are
    * pre-shingled relations ([[docShingleHashes]]) so a durable
    * shingle index can be reused across calls.
    *
    * Returns (left_id, right_id, inter, jaccard) for raw-ratio ≥
    * `threshold` (output rounded to 6 dp for oracle portability).
    *
    * Each side feeds three consumers (cap detection, its size
    * aggregate, the join), so both shingle relations are materialized
    * once. The default is `localCheckpoint` — executor-memory blocks,
    * lost on executor failure, which at corpus-token scale means
    * recomputing the whole shingle scan mid-run. `indexPath` is the
    * durable alternative ([[jaccardPairs]]' switch, bipartite shape):
    * both relations are written to parquet under it (`left/`,
    * `right/` — REBUILT each call, mode overwrite) and read back —
    * the configuration a multi-hour 100 TB alignment run wants.
    * Identical results either way (DedupSpec parity test).
    */
  def crossDupPairs(leftShingles: DataFrame, rightShingles: DataFrame,
                    threshold: Double,
                    maxShingleDf: Long = Long.MaxValue,
                    indexPath: Option[String] = None): DataFrame = {
    def durable(df: DataFrame, side: String): DataFrame = indexPath match {
      case Some(path) =>
        df.write.mode("overwrite").parquet(s"$path/$side")
        df.sparkSession.read.parquet(s"$path/$side")
      case None => df.localCheckpoint(true)
    }
    val l0 = durable(leftShingles, "left")
    val r0 = durable(rightShingles, "right")
    val (l, r) =
      if (maxShingleDf == Long.MaxValue) (l0, r0)
      else {
        // combined-df hot cut, same INSET-vs-broadcast ladder as
        // jaccardPairs (see its scaladoc for the sizing rationale)
        val detected = l0.select(col("sh")).unionAll(r0.select(col("sh")))
          .groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxShingleDf)
          .select(col("sh"))
        val hot = detected.limit(maxInsetHotKeys + 1)
          .collect().map(_.getLong(0)).toSeq
        if (hot.isEmpty) (l0, r0)
        else if (hot.length <= maxInsetHotKeys)
          (l0.filter(!col("sh").isInCollection(hot)),
            r0.filter(!col("sh").isInCollection(hot)))
        else {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"crossDupPairs: > $maxInsetHotKeys shingles over df=" +
              s"$maxShingleDf; excluding via broadcast anti-join")
          (l0.join(broadcast(detected), Seq("sh"), "left_anti"),
            r0.join(broadcast(detected), Seq("sh"), "left_anti"))
        }
      }
    val lsz = l.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    val rsz = r.groupBy(col("doc_id")).agg(count(lit(1)).as("n_b"))
    val inter = l.as("l").join(r.hint("shuffle_hash").as("r"),
        col("l.sh") === col("r.sh"))
      .groupBy(col("l.doc_id").as("left_id"),
        col("r.doc_id").as("right_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(lsz.withColumnRenamed("doc_id", "left_id"), "left_id")
      .join(rsz.withColumnRenamed("doc_id", "right_id"), "right_id")
      .withColumn("jaccard_raw", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("left_id"), col("right_id"), col("inter"),
        Hashing.portableRound(col("jaccard_raw"), 6).as("jaccard"))
  }

  /** 60-bit SimHash fingerprints. Per document: every token votes ±1
    * on each of 60 bit positions according to its hash; positive sums
    * set the bit. One groupBy — a single shuffle of (doc_id,
    * token_hash) pairs with map-side partial vote vectors.
    *
    * The vote math runs in [[graft.plans.SimhashAgg]], a custom
    * TypedImperativeAggregate with one 60-int array buffer per group:
    * measured 2.9× the 60-conditional-`sum` declarative spelling
    * ([[simhashDeclarative]]) — sixty separate agg expressions
    * evaluate (and buffer) per input row what one tight loop votes in
    * place. Bit-identical outputs (integer math; SimhashAggSpec).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), Hashing.hash60(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.plans.SimhashAgg.simhash_agg(col("h")).as("simhash"))

  /** The composable-built-ins spelling of [[simhash]] (60 conditional
    * sums + a bit-fold projection) — kept as the executable
    * specification the custom aggregate is tested against, and as the
    * form the DuckDB oracle mirrors clause for clause.
    */
  def simhashDeclarative(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val tokHashes = docs.select(col(idCol).as("doc_id"),
      explode(Text.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), Hashing.hash60(col("tok")).as("h"))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s$b"))
    val fp = (0 until 60).map(b =>
      when(col(s"s$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce(_ + _)
    tokHashes.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  // ------------- cross-document exact substring spans -------------

  /** The (doc_id, tk) token projection the span operators scan —
    * exposed so a caller that already tokenized the corpus (e.g. the
    * curation pipeline's single-tokenize staging) can feed it to
    * [[dupSpanFractionFromTokens]] instead of paying another full
    * tokenize scan.
    */
  private[graft] def tokensProjection(docs: DataFrame, idCol: String,
                                      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("tk"))

  /** Positional scan carrying the token COUNT beside the shingle
    * hashes: (doc_id, n_toks, pos, sh), with ONE stub row (null
    * pos/sh via posexplode_outer) for documents shorter than one
    * shingle. One tokenize pass thus also yields every document's
    * token count — [[dupSpanFraction]]'s denominator, which
    * previously cost a SECOND full corpus scan; recovering it from
    * the materialized positional relation is a map-side-partial
    * aggregate of (doc_id, int) pairs, corpus-scan-free.
    */
  private def positionalShingleScan(toks: DataFrame, w: Int): DataFrame =
    toks.select(col("doc_id"),
        size(col("tk")).cast("long").as("n_toks"),
        posexplode_outer(graft.plans.ShingleHashesExpr.shingle_hashes(
          col("tk"), w)).as(Seq("pos", "sh")))

  /** Cross-document duplicated substring spans — the Spark-shaped
    * re-expression of suffix-array exact substring dedup ("any
    * ≥w-token sequence appearing verbatim in two documents"): maximal
    * token intervals of each document covered by width-`w` shingles
    * that occur in ≥2 DISTINCT documents. Returns
    * (doc_id, span_start, span_tokens); span_start is a 0-based token
    * offset. Within-document repetition deliberately does not count
    * (that signal is [[Text]]'s repetition fraction).
    *
    * A suffix array is a global sorted structure no executor can
    * hold at 100 TB; the equivalent information — which fixed-width
    * windows repeat across documents — needs only:
    *   1. the positional shingle scan (linear, narrow);
    *   2. one hash-shuffle to count distinct docs per shingle
    *      (two-level aggregate, map-side partials; a boilerplate
    *      shingle shared by millions of docs is a COUNT, never a
    *      pair fan-out — this op needs no hot-bucket cap);
    *   3. a semi-join of positions against duplicated hashes
    *      (payload-free 8-byte key);
    *   4. a per-document gaps-and-islands merge (window partitioned
    *      by doc — bounded by document length, never corpus size):
    *      consecutive duplicated offsets ≤ w apart overlap as token
    *      intervals and fuse into one maximal span.
    */
  def crossDocDupSpans(docs: DataFrame, idCol: String, textCol: String,
                       w: Int, indexPath: Option[String] = None): DataFrame =
    spansFromPositional(
      materializePositional(
        positionalShingleScan(tokensProjection(docs, idCol, textCol), w),
        indexPath), w)

  /** Materialize the positional relation ONCE — it feeds two consumers
    * (the distinct-doc count and the position join). localCheckpoint
    * is the single-job default; `indexPath` writes the positional
    * index to parquet instead (same durability trade-off as
    * [[jaccardPairs]]'s inverted index — the 100 TB configuration).
    */
  private def materializePositional(raw: DataFrame,
                                    indexPath: Option[String]): DataFrame =
    indexPath match {
      case Some(path) =>
        raw.write.mode("overwrite").parquet(path)
        raw.sparkSession.read.parquet(path)
      case None => raw.localCheckpoint(true)
    }

  /** The span pipeline over a materialized positional relation. Stub
    * rows (null sh — short docs, kept so the relation carries every
    * doc's token count) never form spans: a null hash equals nothing
    * in the join.
    */
  private def spansFromPositional(ps: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dupSh = ps.select(col("sh"), col("doc_id"))
      .filter(col("sh").isNotNull).distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2).select(col("sh"))
    val dupPos = ps.join(dupSh, "sh").select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gap = col("pos") - lag(col("pos"), 1).over(byDoc)
    // NULL gap (first row) and gap > w both open a new island; the
    // when() otherwise-0 gives NULL-gap rows 1 only via the isNull arm,
    // mirroring SQL CASE three-valued logic exactly.
    val brk = when(gap.isNull.or(gap > w), lit(1)).otherwise(lit(0))
    dupPos
      .withColumn("grp", sum(brk).over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(w)).cast("long")
          .as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
  }

  /** Per-document fraction of tokens inside cross-document duplicated
    * spans — the drop/trim signal substring dedup feeds a curation
    * pipeline. Docs with no duplicated span (or shorter than one
    * shingle) report 0.0; the division is exact-int-over-exact-int in
    * IEEE double, so any engine reproduces it bit-for-bit.
    */
  def dupSpanFraction(docs: DataFrame, idCol: String, textCol: String,
                      w: Int, indexPath: Option[String] = None): DataFrame =
    dupSpanFractionFromTokens(tokensProjection(docs, idCol, textCol), w,
      indexPath)

  /** [[dupSpanFraction]] over a pre-tokenized (doc_id, tk) projection
    * — the shape the curation pipeline's single-tokenize staging
    * feeds. ONE corpus pass total: the positional scan carries
    * n_toks per row (stub rows keep short docs present), so the
    * denominator aggregates off the materialized positional relation
    * — map-side-partial (doc_id, long) pairs — where it previously
    * re-read and re-tokenized the whole corpus.
    */
  private[graft] def dupSpanFractionFromTokens(toks: DataFrame, w: Int,
      indexPath: Option[String] = None): DataFrame = {
    val ps = materializePositional(positionalShingleScan(toks, w), indexPath)
    val spans = spansFromPositional(ps, w)
      .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("dup_tokens"))
    ps.groupBy(col("doc_id")).agg(max(col("n_toks")).as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col("dup_tokens"), lit(0L))
            .cast("double") / col("n_tokens").cast("double"))
          .as("dup_fraction"))
  }

  // ------------- streaming-ingest near-duplicate filter -------------

  /** One micro-batch of the streaming near-dup filter: admit only
    * documents that are not LSH near-duplicate candidates of anything
    * admitted before them, maintaining a persisted band-key store.
    *
    * This is the ingest-time shape of minhash dedup — at 100 TB you
    * cannot re-run batch dedup over the full corpus on every arrival,
    * so the accumulated state must be something a micro-batch can
    * equi-join: the (band, band_key, doc_id) relation of ADMITTED
    * documents (k/bands longs hashed to 32 bytes per doc — payload
    * never stored). Per batch:
    *   1. band the incoming docs ([[docShingleHashes]] →
    *      [[minhashSignatures]] → [[lshBands]]);
    *   2. drop docs whose keys collide with the store (historical
    *      near-dup candidates) — an equi-join on (band, band_key),
    *      NOT a pair join, so cost is linear in collisions;
    *   3. drop docs colliding with a SMALLER id inside the batch
    *      (within-batch candidates — same rule batch LSH uses);
    *   4. append the survivors' keys to the store, then return the
    *      surviving rows for the caller's sink.
    *
    * The store is an [[AdmissionManifestStore]] — a commit log of
    * immutable parquet files, with the store layout, crash safety,
    * replay and concurrency contracts documented on [[admitByKeys]]
    * (the shared core). Candidate-level semantics, like
    * [[lshCandidatePairs]]: dropping is probabilistic on true
    * near-dups (tune k/bands), with the same degenerate-cluster guard
    * (`maxBucketSize`) applied WITHIN the batch. Docs shorter than one
    * shingle produce no keys and always survive. Wire it into a stream
    * with `writeStream.foreachBatch((b, _) => nearDupFilterBatch(b, …)
    * .write.mode("append")…)`.
    *
    * `manifestStore` is DEPRECATED and accepted only as `true` (the
    * default): the commit log is the one store protocol. `false` used
    * to select the retired listing layout and is refused with the
    * legacy-store error.
    */
  def nearDupFilterBatch(batch: DataFrame, storePath: String,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                         maxBucketSize: Long = Long.MaxValue,
                         nBuckets: Int = 64,
                         autoCompactFiles: Int = 32,
                         tailFoldFiles: Int = 16,
                         admittedAt: Long = -1L,
                         suppressSince: Long = 0L,
                         expireBefore: Long = 0L,
                         maxBucketBytes: Long = 0L,
                         maxSplitsPerTurn: Int = 2,
                         manifestStore: Boolean = true): DataFrame = {
    if (!manifestStore) AdmissionManifestStore.refuseListingLayout(storePath)
    admitByKeys(batch,
      dropOversizedBuckets(
        lshBands(minhashSignatures(
          docShingleHashes(batch, idCol, textCol, shingleN), k), k, bands),
        Seq("band", "band_key"), maxBucketSize, "nearDupFilterBatch"),
      storePath, idCol, nBuckets, autoCompactFiles, tailFoldFiles,
      admittedAt, suppressSince, expireBefore, maxBucketBytes,
      maxSplitsPerTurn)
  }

  /** The shared admission core of the streaming near-dup filters
    * ([[nearDupFilterBatch]]'s minhash bands,
    * [[Similarity.embedNearDupFilterBatch]]'s SRP buckets): given the
    * batch's candidate keys — `(doc_id, key columns...)`, collision =
    * equality on every key column — drop docs whose keys collide with
    * the persisted store of ADMITTED docs (excluding their own id —
    * the replay-idempotence rule) or with a smaller id inside the
    * batch, then append the survivors' keys to the store and return
    * the surviving batch rows.
    *
    * Exactly-once under micro-batch REPLAY (crash between the store
    * append and the caller's sink write): the store join excludes a
    * doc's own keys, so a replayed batch — whose survivors' keys are
    * already stored — reproduces the identical survivor set, and
    * duplicate store rows only repeat join matches that were already
    * matches. Store appends are monotone.
    *
    * Store protocol ([[AdmissionManifestStore]]): every generation is
    * a manifest committed by CAS on `_commits/<v>`, referencing
    * immutable data files in an LSM-style two-level layout —
    *
    *   - L1: the bulk of the store, HASH-PARTITIONED on the key
    *     columns (`adm_kb = hash(keys) mod nBuckets`, one manifest file
    *     list per bucket), so the store join reads only the buckets the
    *     batch's own keys land in (the manifest lookup is the pruning —
    *     at steady state a small batch touches a fraction of a
    *     corpus-scale store);
    *   - L0: a bounded tail of plain parquet appends. Each batch
    *     appends ONE file there (a micro-batch's keys can spray across
    *     every bucket, and paying a file per bucket per batch is the
    *     write amplification this level exists to absorb) and joins
    *     the whole tail alongside the pruned L1 slice; the tail is
    *     budget-bounded, so that read is O(budget), never
    *     corpus-scale.
    *
    * `nBuckets` is the base layout, declared by the first admission
    * and refused loudly when a caller disagrees (probing the wrong
    * addresses would silently under-suppress); over-budget buckets may
    * split online into power-of-two children via `maxBucketBytes` /
    * [[splitAdmittedBucket]], and [[rebucketAdmitted]] migrates the
    * base. Maintenance rides the writer's own turn, hands-free: when
    * the tail exceeds `tailFoldFiles` files (or a fixed byte budget, so
    * one giant bulk-load batch can't linger), it is FOLDED into its L1
    * buckets, and any folded bucket holding more than
    * `autoCompactFiles` files is rewritten to a single deduplicated
    * file. Data files never move: every mutation stages fresh files
    * and commits a manifest swapping the affected file lists, so a
    * crash at any point leaves at worst unreferenced staging (reclaimed
    * by [[AdmissionManifestStore.vacuum]]), never a half-published
    * store.
    *
    * Retention (windowed dedup — "suppress against the last N days",
    * the bounded-state regime an endless ingest needs): every
    * appended key row carries `adm_ts = admittedAt` (caller-supplied
    * batch time, so decisions are deterministic and replayable);
    * `suppressSince` makes the store join ignore keys admitted before
    * the cutoff (window semantics at query time, no rewrite), and
    * [[expireAdmitted]] physically drops them (state stays
    * window-bounded). Replay idempotence holds as long as a batch is
    * replayed within the retention window of the keys that suppressed
    * it — replays are seconds-to-minutes late in practice, windows
    * are days. Rows without a stamp (files written before the
    * retention column existed) FAIL CLOSED: an unknown-age key is
    * treated as in-window (still suppressing, never auto-expired) —
    * run [[stampAdmitted]] once to give such rows a concrete stamp.
    * Windowed admission requires an explicit `admittedAt` (the
    * wall-clock default is refused when a window is set: a replayed
    * batch re-stamped at replay time would extend suppression
    * windows, breaking the determinism this stamp exists for).
    *
    * Batch determinism: the decision (the drop-id list) is
    * materialized before the store mutates, but the returned
    * survivors stay LAZY over the caller's `batch` — each downstream
    * action re-reads it, anti-joined against that list. A
    * nondeterministic batch (sampling, a source whose files change)
    * could therefore yield survivors inconsistent with the recorded
    * decision and the appended keys; such a caller must materialize
    * the batch (checkpoint or write it) before passing it in.
    *
    * Concurrency contract: admissions are strictly single-writer —
    * two concurrent `admitByKeys` calls can violate exactly-once (each
    * decides against a generation that lacks the other's keys). Every
    * maintenance op ([[nearDupRemove]] / [[removeAdmittedIds]] /
    * [[expireAdmitted]] / [[stampAdmitted]] / [[splitAdmittedBucket]]
    * / [[maintainAdmitted]] / [[rebucketAdmitted]]) MAY run beside the
    * live writer: each derives its output from the generation it
    * commits over and re-derives after a lost CAS race, so commits are
    * serializable, and probes read one resolved generation's immutable
    * files (snapshot isolation; retention keeps recent generations'
    * files alive for in-flight readers). Maintenance only moves rows,
    * so a decision against any generation sees the complete key set.
    *
    * A root in the retired listing layout (`adm_kb=` bucket
    * directories, a `tail/` directory or root marker files, with no
    * `_commits` log) is refused, never converted in place: migrate it
    * by replay — admit its documents into a fresh store.
    */
  private[functions] def admitByKeys(batch: DataFrame, keys0: DataFrame,
                                     storePath: String, idCol: String,
                                     nBuckets: Int = 64,
                                     autoCompactFiles: Int = 32,
                                     tailFoldFiles: Int = 16,
                                     admittedAt: Long = -1L,
                                     suppressSince: Long = 0L,
                                     expireBefore: Long = 0L,
                                     maxBucketBytes: Long = 0L,
                                     maxSplitsPerTurn: Int = 2)
      : DataFrame = {
    val spark = batch.sparkSession
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    // admittedAt = -1 (the default) means "now" — fine for unwindowed
    // stores, but WINDOWED admission keyed off wall clock breaks the
    // replay contract: compaction keeps max(adm_ts), so a replayed
    // batch re-stamped at replay time silently extends suppression
    // windows. Windowing therefore requires the caller's batch time.
    require(admittedAt >= 0L || (suppressSince <= 0L && expireBefore <= 0L),
      "windowed admission (suppressSince/expireBefore > 0) requires an " +
        "explicit admittedAt: the wall-clock default would re-stamp " +
        "replayed batches and extend suppression windows")
    val admittedTs =
      if (admittedAt >= 0L) admittedAt else System.currentTimeMillis()
    val keyCols = admissionKeyColumns(keys0.columns.toSeq)
    require(keyCols.nonEmpty, "admitByKeys: no key columns beside doc_id")
    val store = AdmissionManifestStore(storePath)
    val man = store.initIfAbsent(spark, nBuckets)
    val splits = man.splits
    // keys feed four consumers (bucket probe, store join, self-join,
    // append) — materialize once; a micro-batch is bounded, so
    // executor-memory checkpointing is the right tool here (unlike the
    // corpus-sized jaccard index). The bucket id is engine-internal
    // (never compared across engines), so xxhash64 is fine. adm_kb is
    // the ROUTED live address (what the tail append carries and the
    // fold places by); adm_deep is the deepest-modulus address,
    // collected to expand each key's probe CHAIN — both equal
    // pmod(h, nBuckets) on a never-split store.
    val keyHash = xxhash64(keyCols.map(col): _*)
    val (keys, deepSet, keyRows) = checkpointKeysWithDeepSet(keys0
      .withColumn("adm_kb", routedAddr(keyHash, nBuckets, splits))
      .withColumn("adm_deep",
        pmod(keyHash, lit(nBuckets.toLong << splits.maxDepth)).cast("int")))
    // the buckets this batch can possibly collide in — every address on
    // each key's chain; ≤ distinct batch keys × (maxDepth + 1) values,
    // never data-sized
    val touched: Seq[Int] =
      deepSet.flatMap(chainOf(_, nBuckets, splits.maxDepth)).distinct
    val storeRel = store.probeRel(spark, man, keyCols, touched,
      suppressSince)
    // Materialize the DECISION, not the surviving batch rows: the
    // drop-id relation is all every downstream consumer needs (the
    // tail append anti-joins it; the returned survivors anti-join it
    // against the caller's own batch), it is bounded by the batch's id
    // count, and checkpointing it pins the decision before the store
    // mutates.
    val dropIds = decideDropIds(keys, keyCols, storeRel, keyRows)
      .localCheckpoint(true)
    // L0 append: one plain file per batch. The drop list is
    // batch-bounded (the same bound the keys checkpoint already
    // assumes), so the anti-join broadcasts it and the keys never
    // shuffle.
    store.appendTail(spark,
      keys.join(broadcast(dropIds), Seq("doc_id"), "left_anti")
        .drop("adm_deep") // probe-side only, never persisted
        .withColumn("adm_ts", lit(admittedTs)),
      nBuckets)
    store.foldAndCompact(spark, autoCompactFiles, tailFoldFiles,
      expireBefore)
    // auto-split riding the same turn (opt-in via maxBucketBytes): each
    // split is bounded by ONE bucket's data. Hysteresis is structural:
    // a split halves a bucket in expectation, so a fresh child
    // re-triggers only after doubling again.
    if (maxBucketBytes > 0L) {
      store.bucketSizes(spark)
        .filter(_._3 > maxBucketBytes)
        .sortBy(-_._3).take(math.max(0, maxSplitsPerTurn))
        .foreach { case (b, _, _) => store.splitBucket(spark, b) }
    }
    // The returned survivors derive from the caller's batch and the
    // CHECKPOINTED drop list alone — they never read the store, so the
    // mutations above cannot disturb them (see the batch-determinism
    // contract above).
    survivorsOf(batch, idCol, dropIds)
  }

  /** The surviving batch rows of a checkpointed admission decision:
    * the batch anti-joined against the (batch-bounded, broadcast)
    * drop-id list.
    */
  private def survivorsOf(batch: DataFrame, idCol: String,
                          dropIds: DataFrame): DataFrame =
    batch.join(broadcast(dropIds.withColumnRenamed("doc_id", idCol)),
      Seq(idCol), "left_anti")

  /** Materialize a batch's key relation and collect its distinct
    * deepest-modulus addresses and its row count IN THE SAME JOB (an
    * Observation riding the checkpoint action): the probe-chain
    * expansion needs the distinct `adm_deep` set and the decision's
    * broadcast gate needs the row count, and neither is worth a job of
    * its own. The set is ≤ distinct batch keys.
    */
  private def checkpointKeysWithDeepSet(withAddrs: DataFrame)
      : (DataFrame, Seq[Int], Long) = {
    val obs = org.apache.spark.sql.Observation()
    val keys = withAddrs
      .observe(obs, collect_set(col("adm_deep")).as("deep"),
        count(lit(1)).as("n"))
      .localCheckpoint(true)
    val m = obs.get
    val deep = m("deep") match {
      case s: scala.collection.Seq[_] => s.toSeq.map(_.asInstanceOf[Int])
      case other => throw new IllegalStateException(
        s"unexpected observation payload: $other")
    }
    (keys, deep, m("n").asInstanceOf[Long])
  }

  /** The admission decision: the ids of docs whose keys collide with
    * the store (excluding their own id — the replay-idempotence rule)
    * or with a smaller id inside the batch. Consumers anti-join this
    * list, so duplicate ids are harmless and no distinct() is paid.
    *
    * Join shapes pick the bounded build side deliberately (§3.1): the
    * pruned store slice is the UNBOUNDED side at corpus scale, so the
    * store join streams it against the batch's keys as the build side
    * (an inner join projecting the key-side id — duplicates only
    * repeat drops the anti-join ignores). The keys are BROADCAST while
    * `keyRows` stays within [[ModelJoin.broadcastMaxRows]] (the
    * `graft.model.broadcastMaxRows` gate every size-gated join shares)
    * and hash-shuffled past it — a bulk-load batch can be
    * corpus-fraction-sized, and a broadcast of that would be a driver
    * OOM. The within-batch self-join follows the same gate.
    */
  private[graft] def decideDropIds(keys: DataFrame, keyCols: Seq[String],
      storeRel: Option[DataFrame], keyRows: Long): DataFrame = {
    val build: DataFrame => DataFrame =
      if (keyRows <= ModelJoin.broadcastMaxRows(keys)) broadcast(_)
      else _.hint("shuffle_hash")
    val vsStore =
      storeRel match {
        case Some(store) =>
          store.join(build(keys),
              keyCols.map(c => col(c) === col(s"s_$c")).reduce(_ && _)
                && col("doc_id") =!= col("s_id"), // replay self-exclusion
              "inner")
            .select(col("doc_id"))
        case None => keys.select(col("doc_id")).limit(0)
      }
    val withinBatch = keys.as("l").join(build(keys.as("r")),
        keyCols.map(c => col(s"l.$c") === col(s"r.$c")).reduce(_ && _) &&
        col("r.doc_id") < col("l.doc_id"), "left_semi")
      .select(col("doc_id"))
    vsStore.union(withinBatch)
  }

  /** The key columns of an admission relation or stored file schema:
    * everything except the identity (`doc_id`) and bookkeeping
    * (`adm_ts`, `adm_kb`) columns, in SCHEMA ORDER. One definition
    * shared by the admission path (whose keys0 column order feeds the
    * order-sensitive `xxhash64` bucket hash and writes the files) and
    * the layout migrations that re-derive bucket ids from those files —
    * structurally the same list, so the two can never drift apart.
    */
  private[functions] def admissionKeyColumns(columns: Seq[String]): Seq[String] =
    columns.filterNot(c => c == "doc_id" || c == "adm_ts" || c == "adm_kb")

  // --------------- incremental bucket splitting (online growth) -------------
  //
  // Extendible-hashing-style splitting: one over-budget bucket at a
  // time is split into power-of-two children, riding the writer's own
  // maintenance turn, with per-turn cost bounded by ONE bucket's data —
  // the online alternative to a full [[rebucketAdmitted]] migration.
  //
  // Addressing. The base layout hashes keys to `pmod(h, N)` (N = the
  // declared base modulus). A bucket at local depth d holds rows with
  // `pmod(h, N·2^d) == addr`; splitting it rewrites its rows under
  // modulus N·2^(d+1), landing them in child addresses `addr` and
  // `addr + N·2^d` (N·2^(d+1) is a multiple of every coarser modulus,
  // so a row's deeper address always REFINES its shallower ones). The
  // manifest declares the layout: the global max depth plus the local
  // depth of each split bucket (absent = depth 0).
  //
  // Probe safety: every address holding a row for key h is
  // `pmod(h, N·2^d)` for some d ≤ the declared max depth, and probes
  // read each key's whole address CHAIN {pmod(h, N·2^d) : 0 ≤ d ≤
  // maxDepth} — so admission decisions are identical to the unsplit
  // store (the suppression join is equality-on-keys; placement only
  // affects which files are read). A split commits the rekeyed file
  // lists and the deeper declaration in ONE manifest, so no reader
  // ever sees one without the other.

  /** Declared split state: the global max depth (probe chain length)
    * and the local depth of each split bucket (absent = 0).
    */
  private[graft] final case class AdmissionSplits(maxDepth: Int,
                                                  depthByAddr: Map[Int, Int])

  /** The address chain of a deepest-modulus bucket id: its bucket id
    * under every coarser modulus down to the base layout. Probes and
    * content-keyed takedowns read every existing address on the chain
    * (see the probe-safety note above).
    */
  private[functions] def chainOf(deep: Int, nBuckets: Int, maxDepth: Int): Seq[Int] =
    (0 to maxDepth).map(d => (deep.toLong % (nBuckets.toLong << d)).toInt)

  /** Routed placement for new/folded rows: the row's address at its
    * bucket's declared local depth — checked deepest-first so a
    * consistent map resolves each row to its unique live bucket, and a
    * stale map falls back to a shallower (still chain-correct)
    * address. `h` is the key hash column.
    */
  private[functions] def routedAddr(h: Column, nBuckets: Int,
      splits: AdmissionSplits): Column = {
    val byDepth = splits.depthByAddr.groupBy(_._2).view
      .mapValues(_.keys.toSeq).toMap
    (1 to splits.maxDepth)
      .foldLeft(pmod(h, lit(nBuckets.toLong)).cast("int")) {
        case (shallower, d) => byDepth.get(d) match {
          case Some(addrs) =>
            val cand = pmod(h, lit(nBuckets.toLong << d)).cast("int")
            when(cand.isInCollection(addrs), cand).otherwise(shallower)
          case None => shallower
        }
      }
  }

  /** Split ONE admission bucket into its two power-of-two children —
    * the incremental, ONLINE alternative to [[rebucketAdmitted]]: cost
    * is bounded by this bucket's data, and admissions, probes, and
    * takedowns keep running beside it. One commit carries the rekeyed
    * file lists and the deeper depth declaration. Returns the number
    * of key rows rewritten (0 when the store or the bucket is absent
    * or empty).
    */
  def splitAdmittedBucket(spark: SparkSession, storePath: String,
                          addr: Int): Long =
    AdmissionManifestStore.open(spark, storePath)
      .fold(0L)(_.splitBucket(spark, addr))

  /** Threshold policy for [[maintainAdmitted]] — the wiring between
    * [[admissionStoreStats]]'s WHEN signals and the maintenance
    * actions, so operating a store needs no hand-built cron logic.
    * Every trigger is opt-in (0 = never). Hysteresis is structural,
    * not a tunable: a split halves a bucket in expectation, so a fresh
    * child re-triggers only after doubling past `maxBucketBytes`
    * again, and a compacted bucket re-triggers only after
    * `compactOverFiles` further appends.
    */
  final case class AdmissionMaintenancePolicy(
      maxBucketBytes: Long = 0L,
      maxSplitsPerRun: Int = 4,
      compactOverFiles: Int = 0,
      expireBefore: Long = 0L,
      maxDepthBeforeRebase: Int = 0,
      autoRebase: Boolean = false)

  final case class AdmissionMaintenanceReport(expired: Long,
                                              compacted: Seq[Int],
                                              split: Seq[Int],
                                              rebaseRecommended: Boolean =
                                                false,
                                              rebasedTo: Option[Int] = None)

  /** One policy-driven maintenance pass over an admission store —
    * expiry, then compaction, then incremental splits, each gated by
    * its [[AdmissionMaintenancePolicy]] threshold. The cron-shaped
    * complement of the per-turn knobs on the admission entry points
    * (`autoCompactFiles` / `expireBefore` / `maxBucketBytes` riding
    * the writer): run it on a schedule, or from the writer's own
    * process between batches. Safe beside the live writer (every
    * constituent op is a serializable commit); per-run cost is
    * O(manifest groups) driver-side plus the triggered rewrites, with
    * splits capped at `maxSplitsPerRun` buckets' data.
    */
  def maintainAdmitted(spark: SparkSession, storePath: String,
      policy: AdmissionMaintenancePolicy): AdmissionMaintenanceReport = {
    val store = AdmissionManifestStore.open(spark, storePath) match {
      case Some(st) => st
      case None => return AdmissionMaintenanceReport(0L, Nil, Nil)
    }
    val expired =
      if (policy.expireBefore <= 0L) 0L
      else expireAdmitted(spark, storePath, policy.expireBefore)
    val compacted =
      if (policy.compactOverFiles <= 0) Nil
      else store.compactBuckets(spark,
        store.bucketSizes(spark).filter(_._2 > policy.compactOverFiles)
          .map(_._1),
        policy.compactOverFiles, policy.expireBefore)
    // split AFTER compaction so the byte signal reflects deduplicated
    // data, not replay duplicates a compact would have removed
    val split =
      if (policy.maxBucketBytes <= 0L) Nil
      else store.bucketSizes(spark).filter(_._3 > policy.maxBucketBytes)
        .sortBy(-_._3).take(math.max(0, policy.maxSplitsPerRun))
        .map { case (addr, _, _) => store.splitBucket(spark, addr); addr }
    // DEPTH GOVERNANCE: probes and takedowns read each key's address
    // chain across ALL depths 0..maxDepth, so the per-probe reads grow
    // linearly with the declared depth and nothing above ever shrinks
    // it — a store that splits hot buckets round after round accretes
    // chain cost forever. When the declared depth crosses the
    // threshold, the report RECOMMENDS rebasing to the deepest modulus
    // (nBuckets·2^maxDepth — the full migration that collapses every
    // chain back to length 1), and `autoRebase` opts into executing it
    // in this run (one atomic commit, online like every other op).
    val depthStats = // one stats read serves decision AND target
      if (policy.maxDepthBeforeRebase <= 0) None
      else Some(store.stats(spark))
    val depthNow = depthStats.map(_.maxDepth).getOrElse(0)
    val rebaseRecommended = policy.maxDepthBeforeRebase > 0 &&
      depthNow >= policy.maxDepthBeforeRebase
    val rebasedTo =
      if (!rebaseRecommended || !policy.autoRebase) None
      else depthStats.flatMap(_.declaredBuckets).map { n =>
        val grown = (n.toLong << depthNow).toInt // bounded by the parser
        store.rebucket(spark, grown)
        grown
      }
    AdmissionMaintenanceReport(expired, compacted, split,
      rebaseRecommended, rebasedTo)
  }

  /** Operational snapshot of an admission store's layout — the signal
    * a maintenance schedule watches to decide WHEN a
    * [[rebucketAdmitted]] migration is due (the pruning win requires
    * nBuckets ≫ distinct batch keys: when bytes-per-bucket has grown
    * far past the layout's design point, every batch is touching a
    * corpus-fraction slice again), how fragmented buckets are
    * (`autoCompactFiles` tuning), and how much L0 tail is riding
    * between folds. Read from the manifest alone — O(groups) small
    * manifest reads, no Spark job, no per-file status call; byte sizes
    * are the row-count proxy that costs nothing.
    */
  final case class AdmissionStoreStats(buckets: Int,
                                       bucketFiles: Long,
                                       bucketBytes: Long,
                                       maxBucketFiles: Int,
                                       tailFiles: Int,
                                       tailBytes: Long,
                                       declaredBuckets: Option[Int],
                                       maxDepth: Int = 0,
                                       splitBuckets: Int = 0) {
    def avgBucketBytes: Long =
      if (buckets == 0) 0L else bucketBytes / buckets

    /** Addresses probed per distinct batch key (the chain cost a
      * probe or content-keyed takedown pays): one address per declared
      * depth. The depth-governance signal —
      * [[AdmissionMaintenancePolicy.maxDepthBeforeRebase]] watches
      * [[maxDepth]] and a rebase collapses this back to 1.
      */
    def probeChainLength: Int = maxDepth + 1
  }

  def admissionStoreStats(spark: SparkSession,
                          storePath: String): AdmissionStoreStats =
    AdmissionManifestStore.open(spark, storePath).fold(
      AdmissionStoreStats(0, 0L, 0L, 0, 0, 0L, declaredBuckets = None))(
      _.stats(spark))

  /** Full re-bucketing migration for the admission stores — the
    * endless-ingest growth path: `nBuckets` fixes the L1 layout at
    * store creation, and the per-batch pruning win (the measured-flat
    * scale shape) requires nBuckets ≫ distinct batch keys. An ingest
    * that outgrows its layout degrades back toward whole-store joins;
    * this op migrates the store to `newN` buckets, after which every
    * caller passes `nBuckets = newN`.
    *
    * Every stored row (L1 and the L0 tail, whose stored `adm_kb` is
    * stale under the new modulus) is re-keyed by re-hashing the KEY
    * COLUMNS — the same `pmod(xxhash64(keys), n)` admission itself
    * computes, so same-key rows land in the same new bucket by
    * construction — and ONE commit swaps the whole layout (modulus,
    * depth map reset, every file list). Online like every other
    * maintenance op: concurrent probes keep their generation, and a
    * raced mutation re-derives against the migrated manifest.
    * Admission decisions are identical across the migration
    * (suppression joins are equality-on-keys, never
    * bucket-id-dependent). Returns the number of key rows moved.
    */
  def rebucketAdmitted(spark: SparkSession, storePath: String,
                       newN: Int): Long = {
    require(newN > 0, s"newN must be positive: $newN")
    AdmissionManifestStore.open(spark, storePath)
      .fold(0L)(_.rebucket(spark, newN))
  }

  /** Remove documents from a minhash admission store — the takedown /
    * decontamination path: after a document is deleted from the
    * corpus, its banded keys must stop suppressing future arrivals of
    * similar content (a re-crawl of a paraphrase is legitimate new
    * data once the original is gone). Deletion thereby reaches the
    * LAST derived artifact family ([[Similarity.IvfIndex.remove]] and
    * the codes stores' `remove` cover the ANN artifacts; this covers
    * the admission stores).
    *
    * `docs` must carry the removed documents' TEXT, and the key
    * parameters must match the store's (same contract as `nBuckets`,
    * which fixes the layout until a [[rebucketAdmitted]] migration
    * moves it to a new modulus): the keys are re-derived to locate the
    * touched buckets, so only O(removal batch) bucket file lists are
    * read and rewritten — never the corpus-scale store. When the text
    * is no longer available, use [[removeAdmittedIds]] (full sweep).
    * Returns rows removed.
    */
  def nearDupRemove(docs: DataFrame, storePath: String,
                    idCol: String, textCol: String,
                    shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                    nBuckets: Int = 64): Long =
    removeByKeys(
      lshBands(minhashSignatures(
        docShingleHashes(docs, idCol, textCol, shingleN), k), k, bands),
      storePath, nBuckets)

  /** The shared removal core (minhash bands / SRP buckets — the same
    * two callers as [[admitByKeys]]): drop every store row whose
    * doc_id belongs to `keys0`, reading and rewriting ONLY the buckets
    * on the re-derived keys' address chains (a doc's keys land on
    * exactly these chains by construction, so pruning is lossless)
    * plus the bounded tail.
    *
    * One serializable commit: the touched chains are re-derived from
    * the exact manifest the rewrite commits over (per CAS attempt), so
    * a concurrent split or fold can never hide a relocated row, and
    * the call returns only once the removal is complete. Kept keys are
    * never lost. Idempotent — a second run finds nothing.
    *
    * Removal is PHYSICAL and immediate (no tombstones — unlike the
    * codes stores there is no frozen-artifact segment to anti-join
    * against), so re-admitting the same id later simply works; a
    * replayed upstream batch that still contains a removed document
    * will re-admit it, which is an upstream-retention concern, not a
    * store invariant.
    */
  private[functions] def removeByKeys(keys0: DataFrame, storePath: String,
                                      nBuckets: Int): Long = {
    val spark = keys0.sparkSession
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val store = AdmissionManifestStore.open(spark, storePath) match {
      case Some(st) => st
      case None => return 0L
    }
    val keyCols = admissionKeyColumns(keys0.columns.toSeq)
    require(keyCols.nonEmpty, "removeByKeys: no key columns beside doc_id")
    // doc_id is cast to long AFTER the bucket hash (which covers only
    // the key columns): admission preserves the caller's id type, so
    // a store built with an int id column must still take takedowns —
    // the long removal set compares against the stored column under
    // Spark's numeric coercion (matching removeAdmittedIds' cast).
    // ONE collect of the takedown-batch-bounded (id, key-hash) pairs:
    // every downstream consumer (the removal INSET, the touched-chain
    // expansion — re-derived per CAS attempt against the CURRENT depth
    // map, but from the same immutable hash set) is driver-side.
    val pairs = keys0.select(col("doc_id").cast("long").as("doc_id"),
        xxhash64(keyCols.map(col): _*).as("adm_kh"))
      .distinct().collect()
    val ids = pairs.map(_.getLong(0)).toSet
    val khs = pairs.map(_.getLong(1)).distinct.toIndexedSeq
    def pm(h: Long, m: Long): Int = (((h % m) + m) % m).toInt
    store.rewriteStore(spark,
      Some { man =>
        require(man.nBuckets == nBuckets,
          s"admission store at $storePath is laid out over " +
            s"${man.nBuckets} buckets but the caller passed " +
            s"nBuckets=$nBuckets")
        val m = man.nBuckets.toLong << man.maxDepth
        khs.map(pm(_, m))
          .flatMap(chainOf(_, man.nBuckets, man.maxDepth)).distinct
      },
      d => d.filter(col("doc_id").isInCollection(ids)),
      d => d.filter(!col("doc_id").isInCollection(ids)))
  }

  /** Full-sweep removal by id — for takedowns where the document
    * content is gone (so the touched buckets can't be re-derived):
    * every bucket's files are read and the ones holding a target id
    * rewritten. O(store) read cost — acceptable for the rare takedown
    * path; prefer [[nearDupRemove]] / [[Similarity.embedNearDupRemove]]
    * while the content is at hand. `ids` is takedown-sized
    * (driver-held); chunk very large lists or use the DataFrame
    * overload.
    */
  def removeAdmittedIds(spark: SparkSession, storePath: String,
                        ids: Set[Long]): Long = {
    AdmissionManifestStore.open(spark, storePath).fold(0L) { store =>
      if (ids.isEmpty) 0L
      else store.rewriteStore(spark, None,
        d => d.filter(col("doc_id").isInCollection(ids)),
        d => d.filter(!col("doc_id").isInCollection(ids)))
    }
  }

  /** Full-sweep removal by a DISTRIBUTED id relation — the shape a
    * large decontamination list needs (millions of ids fit neither an
    * INSET literal nor the driver): every bucket and the tail are
    * checked through a semi-join against `ids` (its first column, cast
    * to long) and the hit buckets rewritten through the anti-join. Same
    * commit discipline and idempotence as the Set overload; buckets
    * with no hit stay untouched. Returns rows removed.
    */
  def removeAdmittedIds(spark: SparkSession, storePath: String,
                        ids: DataFrame): Long = {
    AdmissionManifestStore.open(spark, storePath).fold(0L) { store =>
      // one distinct projection feeding the detection semi-join and the
      // surviving-rows anti-join — materialize once
      val rm = ids.select(col(ids.columns.head).cast("long").as("rm_id"))
        .distinct().localCheckpoint(true)
      store.rewriteStore(spark, None,
        d => d.join(rm, d("doc_id") === rm("rm_id"), "left_semi"),
        d => d.join(rm, d("doc_id") === rm("rm_id"), "left_anti"))
    }
  }

  /** Physically drop admitted keys older than `cutoffMs` from every
    * bucket and the tail — the maintenance half of windowed dedup (see
    * [[admitByKeys]]'s retention notes; `suppressSince` already hides
    * them at query time): state stays bounded by the window however
    * long the ingest runs. A full-store pass, like the codes stores'
    * `consolidate()` — run it on the retention cadence, not per batch.
    * One serializable commit; idempotent. Returns rows expired.
    */
  def expireAdmitted(spark: SparkSession, storePath: String,
                     cutoffMs: Long): Long = {
    val pred = (df: DataFrame) =>
      if (df.columns.contains("adm_ts"))
        // null stamps fail closed (kept), mirroring the probe's window: an
        // unknown-age key is never silently expired — [[stampAdmitted]]
        // is the explicit migration that makes unstamped rows expirable
        coalesce(col("adm_ts"), lit(Long.MaxValue)) < lit(cutoffMs)
      else lit(false) // unstamped files: keep them all
    AdmissionManifestStore.open(spark, storePath).fold(0L) { store =>
      if (cutoffMs <= 0L) 0L
      else store.rewriteStore(spark, None,
        d => d.filter(pred(d)), d => d.filter(!pred(d)))
    }
  }

  /** One-time migration for key rows written before the retention
    * column existed: stamp every key row whose `adm_ts` is absent or
    * null with `tsMs`, after which window semantics (`suppressSince`
    * hiding, [[expireAdmitted]] expiry) apply to them like any other
    * row. Unknown-age rows otherwise FAIL CLOSED (suppress forever,
    * never expire) by design — this is the explicit opt-in that makes
    * them expirable. One serializable commit; idempotent — a second
    * run finds nothing unstamped. Returns rows stamped.
    */
  def stampAdmitted(spark: SparkSession, storePath: String,
                    tsMs: Long): Long = {
    require(tsMs >= 0L, s"stampAdmitted needs a concrete epoch-ms stamp: $tsMs")
    // hit = a row with no concrete stamp; the rewrite keeps EVERY row
    // of a hit bucket, stamping the unstamped
    AdmissionManifestStore.open(spark, storePath).fold(0L)(
      _.transformStore(spark,
        d => if (!d.columns.contains("adm_ts")) d
          else d.filter(col("adm_ts").isNull),
        d => if (!d.columns.contains("adm_ts")) d.withColumn("adm_ts", lit(tsMs))
          else d.withColumn("adm_ts", coalesce(col("adm_ts"), lit(tsMs)))))
  }

  // ------------------- duplicate-cluster formation -------------------

  /** Connected components over a duplicate-pair edge list — the step
    * between pairwise near-dup detection ([[jaccardPairs]],
    * [[Similarity.embeddingNearDupPairs]]) and "keep one document per
    * duplicate cluster": near-duplication is transitive in practice
    * (A≈B, B≈C ⇒ one cluster), so survivors must be chosen per
    * component, not per pair.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Each round is two aggregate+join passes over the edge
    * list keyed by node:
    *   - large-star: every node re-points its strictly-LARGER
    *     neighbors at the minimum of its neighborhood;
    *   - small-star: every node re-points its smaller-or-equal
    *     neighbors (and itself) at that minimum.
    * Both steps preserve connectivity and monotonically shrink the
    * potential, reaching a fixpoint of min-rooted stars in O(log² n)
    * rounds — crucially NOT O(diameter), so a pathological
    * million-doc chain still converges in ~40 rounds (DedupSpec runs
    * a 64-node path). At scale this shape matters:
    *   - no adjacency materialization: a `collect_set` formulation
    *     would buffer a million-member boilerplate cluster on one
    *     executor; min-aggregation is map-side partial and O(1) per
    *     group;
    *   - each round shuffles only (node, node) long pairs, never
    *     payloads, and the edge set only shrinks;
    *   - per-round materialization truncates the O(rounds)-deep
    *     lineage. The default is `localCheckpoint` (executor-memory
    *     blocks — low-latency, right for single-job runs); pass
    *     `checkpointDir` to write each round's edge set to durable
    *     parquet instead (same trade-off as [[jaccardPairs]]'s
    *     `indexPath`: survives executor loss, the configuration a
    *     multi-hour 100 TB job wants). Identical results either way
    *     (DedupSpec parity test).
    * Convergence is detected by an order-insensitive checksum
    * (count + bit-XOR of xxhash64, overflow-free under ANSI mode; the
    * edge set is distinct so XOR cancellation needs a hash collision)
    * of the canonical edge set — engine-internal only, so a
    * non-portable hash is fine here.
    *
    * Small-graph fast path: the verified pair list is routinely 4–5
    * orders of magnitude smaller than the corpus (capped candidate
    * generation exists precisely to guarantee that), so after ONE
    * count of the deduplicated edge set, graphs with at most
    * `driverThreshold` edges are solved by a driver-side union-find —
    * the same principle as Spark's broadcast-join threshold: a
    * hard-bounded driver structure (the default 1M edges is broadcast-
    * relation scale) replacing several distributed rounds. Long-keyed
    * graphs only; anything larger — or non-long keys — runs the
    * star-contraction loop, which is the configuration proven at 100×
    * in PLANS.md §scaling. Identical output either way (DedupSpec
    * runs both paths against the same union-find reference).
    *
    * Returns (node, component) for every node appearing in `pairs`,
    * where component = the minimum node id reachable from the node;
    * isolated self-pairs (a = b) yield singleton components.
    */
  def connectedComponents(pairs: DataFrame,
                          aCol: String = "doc_a", bCol: String = "doc_b",
                          maxRounds: Int = 64,
                          checkpointDir: Option[String] = None,
                          driverThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    var gen = 0
    // name "nodes" is written once; edge rounds alternate two dirs —
    // round k reads gen k-1 while writing gen k, after which the k-1
    // dir is dead and reusable. Never overwrites a dir still
    // referenced by a live DataFrame.
    def materialize(df: DataFrame, name: String): DataFrame =
      checkpointDir match {
        case Some(dir) =>
          val path = s"$dir/$name"
          df.write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        case None => df.localCheckpoint(true)
      }
    def materializeEdges(df: DataFrame): DataFrame = {
      val d = materialize(df, s"edges_${gen % 2}"); gen += 1; d
    }
    // materialize the input ONCE: nodes and edges both derive from it,
    // and the upstream pair pipeline (shingle scans, LSH joins, exact
    // verification) is the expensive part — without this it would
    // recompute for each derivation
    // NULL endpoints carry no connectivity and are dropped UP FRONT so
    // both paths agree: the driver union-find would NPE on getLong and
    // the distributed greatest/least would silently degrade a
    // null-sided edge to a self-loop while leaking the null node —
    // same input, crash vs wrong answer, depending only on size
    val p = materialize(
      pairs.select(col(aCol).as("a"), col(bCol).as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull), "pairs")
    // every input node, remembered before self-loops are dropped
    val nodesDf = p.select(col("a").as("node"))
      .union(p.select(col("b").as("node")))
      .distinct()
    // canonical orientation large→small; self-loops carry no
    // connectivity
    val edgesDf = p.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    val longKeys = {
      import org.apache.spark.sql.types.LongType
      pairs.schema(aCol).dataType == LongType &&
        pairs.schema(bCol).dataType == LongType
    }
    // The fast path gates on the RAW pair count (one cheap count on
    // the checkpointed list — it upper-bounds distinct edges, and
    // 2× it bounds the node count), then collects the pair list in
    // ONE pass and derives nodes, edges and components driver-side:
    // two jobs total instead of two counts + two collects. Duplicate
    // and self pairs are handled naturally by union-find. Non-long
    // keys never take the fast path, so they skip the count job.
    if (longKeys && p.count() <= driverThreshold) {
      // driver union-find (union-by-min + path compression): the root
      // of every set is its minimum element, matching the distributed
      // fixpoint's min-label contract exactly
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      val nodeSet = scala.collection.mutable.LongMap.empty[Unit]
      p.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        nodeSet(a) = (); nodeSet(b) = ()
        if (a != b) {
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
      }
      val out = nodeSet.keysIterator.map { n =>
        org.apache.spark.sql.Row(n, find(n))
      }.toIndexedSeq
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out, 1),
        StructType(Seq(StructField("node", LongType, nullable = false),
          StructField("component", LongType, nullable = false))))
    }

    val nodes = materialize(nodesDf, "nodes")
    var edges = materializeEdges(edgesDf)
    var prev = checksum(edges)
    var round = 0
    var fixed = prev._1 == 0L
    while (!fixed && round < maxRounds) {
      // large-star over the symmetrized neighborhood
      val sym = edges.union(
        edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        // v > u ≥ m, so (v, m) is already oriented large→small and
        // can never be a self-loop — no re-check needed
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star over the large→small orientation
      val ssMin = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = materializeEdges(
        large.join(ssMin, "u")
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v")) // v > m by minimality
          .union(ssMin.select(col("u"), col("m").as("v")))
          .distinct())
      val cur = checksum(small)
      fixed = cur == prev
      prev = cur
      edges = small
      round += 1
    }
    require(fixed, s"connectedComponents did not converge in $maxRounds rounds")
    // fixpoint = min-rooted stars: (u, v) means u's component root is v
    nodes.join(edges, nodes("node") === edges("u"), "left")
      .select(col("node"), coalesce(col("v"), col("node")).as("component"))
  }

  /** Order-insensitive edge-set fingerprint for fixpoint detection. */
  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
